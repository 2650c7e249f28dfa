"""Query surface over the driver testdata — every operator from
SURVEY.md §2 re-expressed on the shared parquet tables, each paired with a
DuckDB oracle SQL string (the driver's t2 correctness gate).

Two registries:
    QUERIES : dict[name, fn(spark, sf_dir) -> DataFrame]   (Spark impls)
    ORACLES : dict[name, str]                              (DuckDB SQL)

Conventions for cross-engine determinism:
- money aggregates go through DECIMAL(18,2) so sums are exact and
  engine-order-independent; final values cast to DOUBLE
- averages are computed as exact-decimal SUM cast to DOUBLE divided by
  COUNT (double division of identical operands is bit-identical)
- every computed column is aliased identically on both sides (the driver
  sorts columns by name before hashing)
- top-k queries order by a unique tiebreaker

The ``es_*`` queries exercise the event-store operators (SURVEY.md §2.1/§2.4)
on the testdata ``events`` table under the FIXTURES.md §6 mapping:
decider_id = user_id, offset = event_id, created_at = ts.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Event-time cutoff used by the stream-position queries (mid-range of the
# testdata's Jan-2024 event window, valid at every scale factor).
CUTOFF = "2024-01-15 00:00:00"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table.

    The driver's ``events.parquet`` carries TIMESTAMP(NANOS), which Spark's
    parquet reader rejects; we read nanos as long and rebuild a microsecond
    TimestampType column.  ``div`` truncates toward ZERO — verified
    empirically identical to DuckDB's own ns→µs conversion (-1500 ns →
    -1 µs on both engines; NOT floor, which would give -2), so oracle
    comparisons agree even for pre-epoch values; truncation is monotone
    non-decreasing, so min/max/range predicates commute with it.

    The returned (lazy, immutable) DataFrame handle is memoized PER
    SESSION keyed on (path, table, file mtime) — r15, guide §6 "file
    listing … is cached per session".  Measured: each uncached
    ``spark.read.parquet`` costs 100-200 ms of driver work (listing +
    footer schema inference + py4j), and one bench/oracle pass issues
    ~130 load() calls over 10 distinct tables — ~15 s of pure repeated
    metadata work.  This is exactly what a catalog table (``spark.table``)
    would amortize; it caches NO data and NO results — every action
    still scans parquet.  The mtime key drops the memo if the file (or
    partfile directory) is replaced; the cache dies with the session
    object.
    """
    cache = getattr(spark, "_fstore_load_cache", None)
    if cache is None:
        cache = {}
        spark._fstore_load_cache = cache
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = None
    key = (path, name)
    hit = cache.get(key)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df = _norm_ntz(df)
    else:
        df = _norm_ntz(spark.read.parquet(path))
    cache[key] = (mtime, df)
    return df


def _norm_ntz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to session-zone TimestampType.

    Parquet timestamps with ``isAdjustedToUTC=false`` read as
    TIMESTAMP_NTZ under Spark 4's default ntz inference — a type that
    rejects direct casts to BIGINT and breaks epoch arithmetic the
    queries rely on.  The engine session pins timezone UTC, so the cast
    preserves wall-clock values exactly and agrees with how DuckDB (the
    oracle) evaluates EPOCH() on the same naive timestamps.  Applied in
    ``load`` so query code is correct under ANY caller-provided session
    (the driver gate passes its own SparkSession)."""
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# starved_only fires only at <= this many input partitions — the single-
# row-group pathology.  The value comes from an interleaved A/B: a
# 1-partition scan won -17..-49 % from the floor, while the same operators
# at a 16-partition sf1 scan LOST 8-84 % (the exchange of heavy rows
# outweighed the 16->32 lift), so the gate admits only near-single-
# partition inputs.  A >2-partition pruned-but-large input deliberately
# gets NO floor: Spark's own scan split already parallelizes anything
# bigger than ~2 row groups.
_STARVED_MAX_PARTS = 2


def spread(df: DataFrame, starved_only: bool = False) -> DataFrame:
    """Parallelism floor for heavy derivations over small scans (r14
    optimization round; guide §2.5 input skew / §2.6 idle capacity).

    A table small enough to live in one parquet file with one row group
    arrives as ONE scan task no matter what ``maxPartitionBytes`` says —
    so an operator whose derived work is much larger than its input
    (pair self-joins, per-token md5 folds, co-occurrence explodes) runs
    that work single-threaded while every other core idles.  Round-robin
    repartition to the session's default parallelism BEFORE the heavy
    derivation spreads it; the exchange moves only the small input rows,
    never the derived rows.

    Scale-adaptive by construction: applied only when the input has
    FEWER partitions than the session's parallelism — any at-scale input
    already exceeds that and the call is a no-op, so nothing here is
    tuned to a local core count.  The explicit partition count pins the
    shuffle origin to REPARTITION_BY_NUM, which AQE's coalescer leaves
    alone (size-based coalescing would fold the tiny byte size straight
    back to one partition).

    ``starved_only`` (r14 session 5) is for operators whose per-row work
    is MODEST relative to their row width — JSON parsing, decimal
    partial aggregates, Expand — where re-exchanging the full input only
    pays off in the degenerate one-scan-task case.  Measured both ways:
    at a 1-partition scan the repartition won −17…−49 %; at a
    16-partition scan of the same operators it LOST 8–84 % (interleaved
    A/B, sf1 16-file inputs — the exchange of heavy rows outweighed the
    16→32 lift).  With ``starved_only`` the repartition fires only when
    the input has ≤ 2 partitions, i.e. only the single-row-group
    pathology — which no at-scale input exhibits, so the guard stays
    scale-neutral.  The quadratic/md5 operators (pair self-joins,
    per-token digests) keep the default aggressive guard: their derived
    work dwarfs any input exchange (measured sf1 wins up to 2×)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    parts = df.rdd.getNumPartitions()
    if parts >= target or (starved_only and parts > _STARVED_MAX_PARTS):
        return df
    return df.repartition(target)


def hash32(col) -> F.Column:
    """First 8 md5 hex chars as BIGINT — the cross-engine 32-bit content
    hash (identical in Spark and DuckDB via ``hash32_sql``).  Used by the
    CONTENT-DIGEST columns: count-shaped gate
    queries sum this over their pre-aggregation rows so a wrong-contents/
    right-counts bug (the r10 BPE regex class) flips the value hash
    instead of sitting green.  32 bits keeps a SUM over 2^30 rows far
    from BIGINT overflow (2^62)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hash32_sql(expr: str) -> str:
    """DuckDB spelling of ``hash32`` (same digest, bit-identical)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dec(col, scale: int = 2):
    """The ONE decimal-cast helper (column name or Column) — operators
    import it so a precision change can never drift between files."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


# --------------------------------------------------------------------- #
# Event-store API analogues (SURVEY.md §2.1 A3/A4/A6, §2.4 T6/T7)
# --------------------------------------------------------------------- #


@query(
    "es_get_events",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE user_id = 7
    """,
)
def es_get_events(spark, sf_dir):
    """A3 get_events (/root/reference/schema.sql:348-356): replay one
    partition's stream in offset order — pushdown-filtered scan + sort."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") == 7)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


@query(
    "es_get_last_event",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE user_id = 7
    ORDER BY event_id DESC LIMIT 1
    """,
)
def es_get_last_event(spark, sf_dir):
    """A4 get_last_event (/root/reference/schema.sql:359-367): top-1 by
    offset — Spark plans TakeOrderedAndProject (no full sort)."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") == 7)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(F.col("event_id").desc())
        .limit(1)
    )


@query(
    "es_high_watermark",
    """
    SELECT user_id, CAST(MAX(event_id) AS BIGINT) AS hwm_offset,
           ARG_MAX(event_type, event_id) AS last_event_type
    FROM events GROUP BY user_id
    """,
)
def es_high_watermark(spark, sf_dir):
    """T6 high-watermark derivation (/root/reference/schema.sql:240-263):
    per-partition max offset + attribute of the last event (max_by ==
    DISTINCT ON ... ORDER BY offset DESC)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max("event_id").alias("hwm_offset"),
            F.max_by("event_type", "event_id").alias("last_event_type"),
        )
    )


@query(
    "es_t7_backfill",
    f"""
    SELECT user_id,
           CAST(COALESCE(
               MIN(CASE WHEN ts >= TIMESTAMP '{CUTOFF}' THEN event_id END) - 1,
               MAX(event_id)) AS BIGINT) AS last_offset
    FROM events GROUP BY user_id
    """,
)
def es_t7_backfill(spark, sf_dir):
    """T7 lock backfill (/root/reference/schema.sql:268-309), decorrelated
    per SURVEY.md §2.4: consumer position = (first offset at-or-after
    start_at) − 1, else partition max (fully consumed)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.coalesce(
            F.min(F.when(F.col("ts") >= F.lit(CUTOFF).cast("timestamp"), F.col("event_id")))
            - 1,
            F.max("event_id"),
        )
        .cast("long")
        .alias("last_offset")
    )


@query(
    "es_stream_next_offset",
    f"""
    WITH last_off AS (
        SELECT user_id,
               COALESCE(MAX(CASE WHEN ts < TIMESTAMP '{CUTOFF}' THEN event_id END), 0)
                   AS last_offset
        FROM events GROUP BY user_id
    )
    SELECT e.user_id, CAST(MIN(e.event_id) AS BIGINT) AS next_offset
    FROM events e JOIN last_off l ON e.user_id = l.user_id
    WHERE e.event_id > l.last_offset
    GROUP BY e.user_id
    """,
)
def es_stream_next_offset(spark, sf_dir):
    """A6 stream_events `next_offset` CTE (/root/reference/schema.sql:418-423):
    per claimed partition, MIN(offset) above the consumer's last_offset.
    The locks side is derived from the same cutoff as es_t7_backfill; the
    join is a broadcast (locks ≪ events at any scale)."""
    e = load(spark, sf_dir, "events")
    last_off = e.groupBy("user_id").agg(
        F.coalesce(
            F.max(F.when(F.col("ts") < F.lit(CUTOFF).cast("timestamp"), F.col("event_id"))),
            F.lit(0),
        ).alias("last_offset")
    )
    return (
        # no broadcast hint: last_off has one row per user,
        # which GROWS with the data — at sf0.1 AQE broadcasts it anyway,
        # at cluster scale a user_id shuffle join is the safe plan (and
        # the downstream groupBy reuses that partitioning)
        e.join(last_off, "user_id")
        .filter(F.col("event_id") > F.col("last_offset"))
        .groupBy("user_id")
        .agg(F.min("event_id").alias("next_offset"))
    )


@query(
    "es_ordering_lag",
    """
    SELECT user_id, event_id,
           LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
               AS prev_event_id
    FROM events
    """,
)
def es_ordering_lag(spark, sf_dir):
    """The ordering-violation assertion window
    (/root/reference/tests/utils/assertions.sql:94-103): LAG over offset
    order, partitioned so the sort never needs a global exchange."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", F.lag("event_id").over(w).alias("prev_event_id"))
    )


@query(
    "es_last_per_partition",
    """
    SELECT user_id, event_id, event_type, ts FROM (
        SELECT user_id, event_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def es_last_per_partition(spark, sf_dir):
    """DISTINCT ON (decider_id) ... ORDER BY offset DESC
    (/root/reference/schema.sql:290-294) as a rank-1 window dedup."""
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "es_registry_antijoin",
    """
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_unregistered
    FROM events e
    ANTI JOIN (VALUES ('click'), ('view'), ('purchase'), ('signup')) r(event)
        ON e.event_type = r.event
    GROUP BY e.event_type
    """,
)
def es_registry_antijoin(spark, sf_dir):
    """C3 registry validation (/root/reference/schema.sql:53): anti join of
    candidate events against the (broadcast) decider registry; survivors
    are the FK violations."""
    registry = F.broadcast(
        spark.createDataFrame(
            [("click",), ("view",), ("purchase",), ("signup",)], ["event"]
        )
    )
    return (
        load(spark, sf_dir, "events")
        .join(registry, F.col("event_type") == F.col("event"), "leftanti")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unregistered"))
    )


_UUID_SQL = (
    "md5(CAST(event_id AS VARCHAR))"
)


@query(
    "es_ingest_mapping",
    f"""
    WITH u AS (
        SELECT *,
               concat(substr({_UUID_SQL},1,8),'-',substr({_UUID_SQL},9,4),'-',
                      substr({_UUID_SQL},13,4),'-',substr({_UUID_SQL},17,4),'-',
                      substr({_UUID_SQL},21,12)) AS uuid_str
        FROM events
    )
    SELECT CAST(user_id AS VARCHAR) AS decider_id,
           'user' AS decider,
           event_type AS event,
           CAST(1 AS BIGINT) AS event_version,
           ts AS created_at,
           CAST(event_id AS BIGINT) AS "offset",
           uuid_str AS event_uuid,
           LAG(uuid_str) OVER (PARTITION BY user_id ORDER BY event_id)
               AS previous_id
    FROM u
    """,
)
def es_ingest_mapping(spark, sf_dir):
    """FIXTURES.md §6 bulk-ingest mapping: testdata events → store schema
    with deterministic UUIDs and the per-stream previous_id chain
    (/root/reference/schema.sql:43-44) built by a partitioned LAG window —
    no shuffle beyond the per-user hash partitioning."""
    from fstore_sql_spark.functions import deterministic_uuid

    uuid_col = deterministic_uuid(F.col("event_id").cast("string"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    return load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("decider_id"),
        F.lit("user").alias("decider"),
        F.col("event_type").alias("event"),
        F.lit(1).cast("long").alias("event_version"),
        F.col("ts").alias("created_at"),
        F.col("event_id").alias("offset"),
        uuid_col.alias("event_uuid"),
        F.lag(uuid_col).over(w).alias("previous_id"),
    )


# --------------------------------------------------------------------- #
# Analytics surface (SURVEY.md §7.1 step 7, BENCH B5)
# --------------------------------------------------------------------- #


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2))) *
                    (1 + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the flagship scan+aggregate.  Whole-stage-codegen
    hash aggregate with map-side partials; only |groups| rows shuffle."""
    one = F.lit(1).cast("decimal(18,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount"))
    return (
        # spread: eight exact-decimal aggregates over a single-row-
        # group scan otherwise fold in one task (measured -25 %, 8-round
        # interleaved A/B; the exchange moves only the 7 pruned columns).
        spread(load(spark, sf_dir, "lineitem"), starved_only=True)
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            # ROUND the wide (scale-4/6) decimal sums to 2dp BEFORE the
            # double cast: at sf1 the exact decimal exceeds double
            # precision (17 sig digits) and the engines' decimal->double
            # conversions can differ by one ULP; 2dp keeps every engine's
            # conversion exact at any realistic scale
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(disc_price * (one + _dec("l_tax"))), 2)
            .cast("double")
            .alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_top_orders",
    """
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q3_top_orders(spark, sf_dir):
    """TPC-H Q3 shape: filtered dim ⋈ fact ⋈ fact, aggregate, top-k.
    customer is broadcast (small side); the orders⋈lineitem join shuffles
    on orderkey; the LIMIT is a TakeOrderedAndProject, not a global sort."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_nation_revenue",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape: star join — every dimension broadcast, one shuffle
    for the orders⋈lineitem equi join + final group-by."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    dims = F.broadcast(
        c.join(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "n_name")
    )
    return (
        o.join(dims, o.o_custkey == F.col("c_custkey"))
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "top_customers_per_nation",
    """
    SELECT n_name, c_custkey, total_spent FROM (
        SELECT n.n_name, c.c_custkey,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
               ROW_NUMBER() OVER (
                   PARTITION BY n.n_name
                   ORDER BY SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) DESC, c.c_custkey
               ) AS rn
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name, c.c_custkey
    ) WHERE rn <= 3
    """,
)
def top_customers_per_nation(spark, sf_dir):
    """Rank-per-group: aggregate then windowed row_number with a unique
    tiebreaker — the agg shuffle partitioning (by custkey↔nation) is
    reused by the window's partitioning where possible."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    spent = (
        # customer grows with SF — no forced broadcast; the
        # bounded nation dim stays hinted, AQE picks the customer side's
        # strategy by size
        o.join(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
               .select("c_custkey", "n_name"),
               o.o_custkey == F.col("c_custkey"))
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(_dec("o_totalprice")).alias("spent_dec"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("spent_dec").desc(), F.col("c_custkey"))
    return (
        spent.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("n_name", "c_custkey", F.col("spent_dec").cast("double").alias("total_spent"))
    )


@query(
    "hourly_event_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def hourly_event_rollup(spark, sf_dir):
    """Event-time tumbling window (SURVEY.md §7.7): the reference has no
    windowed aggregation; this is the Spark-native extension.  Expressed
    with date_trunc so the batch and streaming (F.window) plans agree."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


@query(
    "daily_moving_average",
    """
    SELECT day, n_events,
           AVG(n_events) OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS ma3
    FROM (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    )
    """,
)
def daily_moving_average(spark, sf_dir):
    """Sliding frame over a tumbling rollup: ROWS BETWEEN 2 PRECEDING — the
    30-row outer window is trivially single-partition after the agg."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date(F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.orderBy("day").rowsBetween(-2, 0)
    return daily.select("day", "n_events", F.avg("n_events").over(w).alias("ma3"))


@query(
    "user_sessions",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR date_diff('second',
                                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                                ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered GROUP BY user_id, session_id
    """,
)
def user_sessions(spark, sf_dir):
    """Sessionization (gaps-and-islands): 30-min inactivity gap — the batch
    equivalent of Structured Streaming's session_window (SURVEY.md §7.7).
    All three windows share the user_id hash partitioning: one shuffle."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    # event_id tiebreaker: under a (user_id, ts) tie the
    # running sum could fold the tied rows in either order, flipping
    # which session the boundary row lands in — nondeterministic across
    # engines AND across Spark runs
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    numbered = flagged.select(
        "user_id", "ts", F.sum("new_session").over(w2).alias("session_id")
    )
    return numbered.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "json_value_by_type",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_k
    FROM events GROUP BY event_type
    """,
)
def json_value_by_type(spark, sf_dir):
    """Schema-on-read JSON payload access (JSONB analogue, SURVEY.md §1.2):
    get_json_object stays JVM-side (no Python UDF in the hot path)."""
    raw = F.get_json_object(F.col("props"), "$.k")
    k = raw.cast("long")
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        # n_k counts the UN-CAST extraction: counting the
        # long-cast value would silently change n_k's meaning from "key
        # present" to "key numeric" the moment a non-numeric k appears —
        # the oracle counts json_extract_string, i.e. presence
        .agg(F.sum(k).alias("sum_k"), F.count(raw).alias("n_k"))
    )


@query(
    "parts_with_sales_semi",
    """
    SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM part p
    SEMI JOIN lineitem l ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    """,
)
def parts_with_sales_semi(spark, sf_dir):
    """Left-semi join (the EXISTS-probe shape of the reference's triggers,
    /root/reference/schema.sql:78-82) as a standalone operator."""
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem")
    return (
        p.join(l, p.p_partkey == l.l_partkey, "leftsemi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@query(
    "customers_without_orders_anti",
    """
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    ANTI JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def customers_without_orders_anti(spark, sf_dir):
    """Left-anti join (the NOT EXISTS / FK-violation shape,
    /root/reference/schema.sql:53 and SURVEY.md §2.3 C3): customers with
    no urgent order.  The filter is pushed below the anti join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "leftanti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --------------------------------------------------------------------- #
# Analytics batch 2 — remaining operator shapes from SURVEY.md §2.2
# --------------------------------------------------------------------- #


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-side conjunctive predicate + single
    aggregate — every filter reaches PushedFilters, zero shuffle rows
    beyond one partial per task."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    SEMI JOIN lineitem l
        ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS with a non-equi residual — the same
    join-plus-residual pattern as the reference's delivery kernel
    (/root/reference/schema.sql:421-422) as a leftsemi join."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate),
            "leftsemi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q14_promo_effect",
    """
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
               THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2))) ELSE CAST(0 AS DECIMAL(18,2)) END)
               AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    """,
)
def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape: broadcast dim join + conditional aggregate ratio."""
    one = F.lit(1).cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 150
    ORDER BY total_qty DESC, o_orderkey LIMIT 20
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: aggregate + HAVING + top-k with unique tiebreak."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        # customer grows with SF — strategy left to AQE
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 150)
        .select(
            "c_custkey", "o_orderkey", "o_orderdate",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctions across both join sides
    — Catalyst extracts the common l_quantity range for scan pushdown."""
    one = F.lit(1).cast("decimal(18,2)")
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "rollup_order_stats",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_stats(spark, sf_dir):
    """ROLLUP hierarchy aggregate (subtotals + grand total) — the
    grouping-sets operator family; NULL group keys coalesced to a stable
    label for hashing."""
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "t6_views_cross_join",
    f"""
    WITH hwm AS (
        SELECT user_id, MAX(event_id) AS max_offset,
               ARG_MAX(event_type, event_id) AS last_type
        FROM events GROUP BY user_id
    )
    SELECT v.view_name, CAST(h.user_id AS BIGINT) AS user_id,
           CAST(h.max_offset AS BIGINT) AS max_offset, h.last_type
    FROM (VALUES ('view_a'), ('view_b'), ('view_c')) v(view_name)
    CROSS JOIN hwm h
    """,
)
def t6_views_cross_join(spark, sf_dir):
    """T6's implicit cross join (/root/reference/schema.sql:244-251): one
    lock row per registered view per partition — tiny dim × aggregate,
    broadcast nested loop."""
    views = spark.createDataFrame(
        [("view_a",), ("view_b",), ("view_c",)], ["view_name"]
    )
    hwm = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max("event_id").alias("max_offset"),
            F.max_by("event_type", "event_id").alias("last_type"),
        )
    )
    return F.broadcast(views).crossJoin(hwm)


@query(
    "lease_expiry_intervals",
    f"""
    SELECT user_id,
           MAX(ts) + INTERVAL 300 SECOND AS lease_until,
           MAX(ts) + INTERVAL 300 SECOND < TIMESTAMP '{CUTOFF}' AS expired
    FROM events GROUP BY user_id
    """,
)
def lease_expiry_intervals(spark, sf_dir):
    """Interval arithmetic on timestamps — the lease computation shape
    (locked_until = NOW() + (v_seconds||'s')::INTERVAL,
    /root/reference/schema.sql:413)."""
    lease = F.max("ts") + F.expr("INTERVAL 300 SECOND")
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            lease.alias("lease_until"),
            (lease < F.lit(CUTOFF).cast("timestamp")).alias("expired"),
        )
    )


@query(
    "generate_series_running",
    """
    SELECT user_id, i,
           CAST(SUM(i) OVER (PARTITION BY user_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
    FROM (
        SELECT user_id, unnest(generate_series(1, 5)) AS i
        FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 5)
    )
    """,
)
def generate_series_running(spark, sf_dir):
    """generate_series + explode + running sum — the reference's test-data
    generator shape (json_agg(generate_series(1,100)),
    /root/reference/tests/performance/benchmarks/test_stress_conditions.sql:38)."""
    users = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 5)
        .select("user_id")
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    return (
        users.select("user_id", F.explode(F.sequence(F.lit(1), F.lit(5))).alias("i"))
        .select("user_id", "i", F.sum("i").over(w).cast("long").alias("running"))
    )


@query(
    "scalar_function_showcase",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           concat('doc-', lpad(CAST(doc_id AS VARCHAR), 6, '0')) AS doc_key,
           repeat('*', CAST(floor(n_chars / 100) AS INT)) AS size_bar,
           upper(lang) AS lang_uc,
           CAST(floor(date_part('epoch', TIMESTAMP '2024-01-15 00:00:00')) AS BIGINT)
               AS epoch_cutoff
    FROM documents WHERE doc_id < 50
    """,
)
def scalar_function_showcase(spark, sf_dir):
    """Scalar-function parity row (SURVEY.md §2.2 scalar table): concat,
    lpad, repeat, upper, epoch extraction — all JVM built-ins."""
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.concat(
                F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 6, "0")
            ).alias("doc_key"),
            F.repeat(F.lit("*"), F.floor(F.col("n_chars") / 100).cast("int")).alias("size_bar"),
            F.upper("lang").alias("lang_uc"),
            F.unix_timestamp(F.lit("2024-01-15 00:00:00").cast("timestamp"))
            .alias("epoch_cutoff"),
        )
    )


@query(
    "event_types_set_ops",
    f"""
    SELECT event_type, 'both_halves' AS presence FROM (
        SELECT event_type FROM events WHERE ts < TIMESTAMP '{CUTOFF}'
        INTERSECT
        SELECT event_type FROM events WHERE ts >= TIMESTAMP '{CUTOFF}'
    )
    UNION ALL
    SELECT event_type, 'first_half_only' AS presence FROM (
        SELECT event_type FROM events WHERE ts < TIMESTAMP '{CUTOFF}'
        EXCEPT
        SELECT event_type FROM events WHERE ts >= TIMESTAMP '{CUTOFF}'
    )
    """,
)
def event_types_set_ops(spark, sf_dir):
    """Set operators (INTERSECT / EXCEPT / UNION ALL) — beyond-reference
    completeness (the reference uses none, SURVEY.md §2.2)."""
    e = load(spark, sf_dir, "events")
    first = e.filter(F.col("ts") < F.lit(CUTOFF).cast("timestamp")).select("event_type")
    second = e.filter(F.col("ts") >= F.lit(CUTOFF).cast("timestamp")).select("event_type")
    both = first.intersect(second).select(
        "event_type", F.lit("both_halves").alias("presence")
    )
    only_first = first.subtract(second).select(
        "event_type", F.lit("first_half_only").alias("presence")
    )
    return both.unionByName(only_first)


@query(
    "asof_last_event_before",
    f"""
    WITH m AS (
        SELECT user_id, MAX(ts) AS ts FROM events
        WHERE ts < TIMESTAMP '{CUTOFF}' GROUP BY user_id
    )
    SELECT e.user_id,
           CAST(MAX(e.event_id) AS BIGINT) AS event_id,
           ARG_MAX(e.event_type, e.event_id) AS event_type,
           MAX(e.ts) AS ts
    FROM events e JOIN m ON e.user_id = m.user_id AND e.ts = m.ts
    GROUP BY e.user_id
    """,
)
def asof_last_event_before(spark, sf_dir):
    """Point-in-time (as-of) lookup: per partition, the last event strictly
    before a timestamp — an as-of join against a constant time, the
    max_by/DISTINCT ON pattern under a pushdown filter."""
    # Greatest-n-per-group with a deterministic tiebreak: a
    # bare max_by(x, ts) picks an ARBITRARY row on a per-user ts tie,
    # independently per engine.  Restricting to the max-ts rows first and
    # then taking the max event_id makes both engines agree; the join is
    # the standard per-group-max decomposition (both sides shuffle on
    # user_id once — the aggregate side is per-user and AQE-broadcastable).
    e = load(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit(CUTOFF).cast("timestamp")
    )
    m = e.groupBy("user_id").agg(F.max("ts").alias("ts"))
    return (
        e.join(m, ["user_id", "ts"])
        .groupBy("user_id")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("event_type", "event_id").alias("event_type"),
            F.max("ts").alias("ts"),
        )
    )


@query(
    "approx_distinct_users",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           true AS within_tol
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_users(spark, sf_dir):
    """approx_count_distinct (HLL++, rsd 0.05) per event type — the
    approximate-distinct sketch.  Sketch internals differ across engines,
    so the oracle is INEQUALITY-style: the exact distinct
    count is verified value-for-value cross-engine, and the sketch is
    gated by a 3-sigma relative-error bound folded into ``within_tol``
    (a sketch estimate off by >15% flips the boolean and fails the
    hash)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.05).alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.15 * F.col("exact_users")
            ).alias("within_tol"),
        )
    )


# --------------------------------------------------------------------- #
# Analytics batch 3 — outer joins, scalar subqueries, pivot/cube,
# full window-function family, percentiles, SQL surface
# --------------------------------------------------------------------- #


@query(
    "q13_order_distribution",
    """
    SELECT order_count, CAST(COUNT(*) AS BIGINT) AS n_customers FROM (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS order_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    ) GROUP BY order_count
    """,
)
def q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join (null-preserving — customers with
    zero orders count as 0) + double aggregation.  The outer join shuffles
    on custkey once; the second aggregate is tiny."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("order_count"))
    )
    return per_cust.groupBy("order_count").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   (1 - CAST(l_discount AS DECIMAL(18,2)))) AS r
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(rev.r AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.r = (SELECT MAX(r) FROM rev)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: scalar subquery (global MAX) against a derived
    aggregate — decorrelated as a broadcast join of the 1-row max, so the
    revenue aggregate is computed once and reused (no correlated re-scan).
    Decimal revenue keeps the equality exact across engines."""
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).alias("r"))
    )
    max_rev = rev.agg(F.max("r").alias("max_r"))
    return (
        rev.join(F.broadcast(max_rev), rev.r == F.col("max_r"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("r").cast("double").alias("total_revenue"))
    )


@query(
    "q17_small_quantity_revenue",
    """
    WITH a AS (
        SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS avg_yearly
    FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * a.c < a.s
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated AVG subquery (qty < 0.2*avg per part),
    decorrelated into a self-aggregation join (SURVEY.md §4.2).  The
    threshold is algebraically rearranged (qty*5*cnt < sum) so the
    comparison stays in exact decimal arithmetic — no cross-engine float
    drift at the boundary."""
    l = load(spark, sf_dir, "lineitem")
    a = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(_dec("l_quantity")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return (
        l.join(a, l.l_partkey == F.col("a_partkey"))
        .filter(_dec("l_quantity") * 5 * F.col("c") < F.col("s"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0))
            .alias("avg_yearly")
        )
    )


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "pivot_daily_event_counts",
    f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           {", ".join(
               f"CAST(COALESCE(COUNT(CASE WHEN event_type = '{t}' THEN 1 END), 0) AS BIGINT) AS {t}"
               for t in _EVENT_TYPES
           )}
    FROM events GROUP BY 1
    """,
)
def pivot_daily_event_counts(spark, sf_dir):
    """PIVOT (long→wide reshape): one column per event type.  Pivot values
    are pinned explicitly — never inferred with a collect at scale — and
    the reshape is written as conditional counts in ONE hash aggregate:
    ``df.pivot()`` would plan two aggregates + two shuffles (pivotfirst),
    this form shuffles once."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            *[
                F.count(F.when(F.col("event_type") == t, 1)).alias(t)
                for t in _EVENT_TYPES
            ]
        )
    )


@query(
    "cube_lineitem_stats",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_stats(spark, sf_dir):
    """CUBE (all grouping-set combinations) — the remaining member of the
    grouping-sets family (ROLLUP covered by rollup_order_stats)."""
    # spread: CUBE's Expand multiplies every input row 4x before
    # the partial aggregate — single scan task otherwise (measured -36 %).
    # starved_only: at 16-partition inputs (sf1) the exchange measured
    # neutral-to-worse, so fire only on the 1-row-group pathology.
    return (
        spread(load(spark, sf_dir, "lineitem"), starved_only=True)
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


@query(
    "window_function_family",
    """
    SELECT o_orderkey, o_custkey,
           CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS BIGINT) AS rnk,
           CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS BIGINT) AS drnk,
           CAST(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS DOUBLE) AS prnk,
           CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS INT) AS quartile,
           lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS next_orderkey,
           first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS first_orderkey
    FROM orders WHERE o_custkey < 200
    """,
)
def window_function_family(spark, sf_dir):
    """The analytic-function family beyond the reference's LAG/ROW_NUMBER
    (SURVEY.md §2.2): rank, dense_rank, percent_rank, ntile, lead,
    first_value — all six share one window spec, so Catalyst plans a single
    sort within one hash partitioning."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select(
            "o_orderkey",
            "o_custkey",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.percent_rank().over(w).alias("prnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
            F.first("o_orderkey").over(w).alias("first_orderkey"),
        )
    )


@query(
    "quantity_percentiles",
    """
    SELECT l_returnflag,
           CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS p25,
           CAST(quantile_cont(l_quantity, 0.50) AS DOUBLE) AS median,
           CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantity_percentiles(spark, sf_dir):
    """Exact linear-interpolated percentiles per group (PERCENTILE_CONT).
    l_quantity is integral, so interpolation yields exact halves — bitwise
    identical across engines."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
            F.percentile("l_quantity", F.lit(0.50)).alias("median"),
            F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
        )
    )


@query(
    "event_halves_full_outer",
    f"""
    WITH a AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE ts < TIMESTAMP '{CUTOFF}' GROUP BY event_type
    ), b AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE ts >= TIMESTAMP '{CUTOFF}' GROUP BY event_type
    )
    SELECT COALESCE(a.event_type, b.event_type) AS event_type,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_first_half,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n_second_half
    FROM a FULL OUTER JOIN b ON a.event_type = b.event_type
    """,
)
def event_halves_full_outer(spark, sf_dir):
    """FULL OUTER join of two aggregates — the null-preserving comparison
    shape (both sides post-aggregation, so the join inputs are tiny)."""
    e = load(spark, sf_dir, "events")
    a = (
        e.filter(F.col("ts") < F.lit(CUTOFF).cast("timestamp"))
        .groupBy(F.col("event_type").alias("et_a"))
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        e.filter(F.col("ts") >= F.lit(CUTOFF).cast("timestamp"))
        .groupBy(F.col("event_type").alias("et_b"))
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return (
        a.join(b, a.et_a == b.et_b, "full_outer")
        .select(
            F.coalesce("et_a", "et_b").alias("event_type"),
            F.coalesce("n_a", F.lit(0)).alias("n_first_half"),
            F.coalesce("n_b", F.lit(0)).alias("n_second_half"),
        )
    )


@query(
    "sql_surface_in_subquery",
    """
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
    GROUP BY c_mktsegment
    """,
)
def sql_surface_in_subquery(spark, sf_dir):
    """The spark.sql() text surface (SURVEY.md §1.4 'tables as API'):
    IN-subqueries written as SQL — Catalyst's RewritePredicateSubquery turns
    both into left-semi joins, same plan as the DataFrame form."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sql_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("sql_orders")
    return spark.sql(
        """
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM sql_customer
        WHERE c_custkey IN (SELECT o_custkey FROM sql_orders
                            WHERE o_orderpriority = '1-URGENT')
          AND c_custkey IN (SELECT o_custkey FROM sql_orders
                            WHERE o_orderpriority = '5-LOW')
        GROUP BY c_mktsegment
        """
    )


@query(
    "supplier_balance_by_nation",
    """
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance,
           CAST(MAX(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_balance
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def supplier_balance_by_nation(spark, sf_dir):
    """Supplier dimension rollup (broadcast dim join + aggregate) — covers
    the supplier table in the §2 surface."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(_dec("s_acctbal")).cast("double").alias("total_balance"),
            F.max(_dec("s_acctbal")).cast("double").alias("max_balance"),
        )
    )


@query(
    "sliding_window_rollup",
    """
    WITH g AS (
        SELECT event_type,
               CAST(to_timestamp(floor(date_part('epoch', ts) / 1800) * 1800)
                    AS TIMESTAMP) AS b
        FROM events
    )
    SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (
        SELECT event_type,
               unnest([b, b - INTERVAL 30 MINUTE]) AS win_start
        FROM g
    ) GROUP BY win_start, event_type
    """,
)
def sliding_window_rollup(spark, sf_dir):
    """Sliding event-time window (1 h window, 30 min slide): each event
    lands in 2 overlapping windows — F.window's batch form, identical
    expression in Structured Streaming (SURVEY.md §7.7).  The oracle
    materializes the same assignment by exploding the two candidate
    window starts."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(date_part('year', l.l_shipdate) AS BIGINT) AS l_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                   (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume — two different dimension
    roles for the same nation table (n1 via supplier, n2 via customer),
    a disjunctive cross-dimension predicate, year bucketing.  Both nation
    sides broadcast; lineitem⋈orders is the only big shuffle."""
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(18,2)")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    sup = F.broadcast(s.join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
                      .select("s_suppkey", "supp_nation"))
    cus = F.broadcast(c.join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
                      .select("c_custkey", "cust_nation"))
    cond = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        l.join(sup, l.l_suppkey == F.col("s_suppkey"))
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(cus, F.col("o_custkey") == F.col("c_custkey"))
        .filter(cond)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q9_product_profit",
    """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n.n_name AS nation,
               CAST(date_part('year', o.o_orderdate) AS BIGINT) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                   (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                 - CAST(p.p_retailprice AS DECIMAL(18,2)) *
                   CAST(l.l_quantity AS DECIMAL(18,2)) AS amount
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
    ) GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit = revenue − cost, LIKE-filtered part dim,
    nation×year rollup.  (The schema has no partsupp; supplycost is stood
    in by p_retailprice — the operator shape is identical.)"""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(18,2)")
    sup = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    amount = _dec("l_extendedprice") * (one - _dec("l_discount")) - _dec(
        "p_retailprice"
    ) * _dec("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(sup, l.l_suppkey == F.col("s_suppkey"))
        .join(o, o.o_orderkey == l.l_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer, top-20 — the
    returnflag filter reaches the lineitem scan; top-k avoids a global
    sort."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(18,2)")
    cust = F.broadcast(
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
        SELECT l.l_partkey, l.l_suppkey, s.s_name, n.n_name,
               MIN(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS c
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY 1, 2, 3, 4
    ),
    best AS (SELECT l_partkey, MIN(c) AS mc FROM cost GROUP BY 1)
    SELECT p.p_partkey, p.p_name, cost.s_name, cost.n_name,
           CAST(cost.c AS DOUBLE) AS supply_cost
    FROM cost
    JOIN best ON cost.l_partkey = best.l_partkey AND cost.c = best.mc
    JOIN part p ON p.p_partkey = cost.l_partkey
    WHERE p.p_type = 'LARGE'
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: cheapest supplier per part within a region.  The
    correlated MIN subquery is decorrelated into a per-part aggregate
    joined back on decimal equality (SURVEY.md §4.2); lineitem stands in
    for partsupp (testdata carries no partsupp table).  The supplier→
    nation→region chain collapses into one broadcast dim, and the 1-row-
    per-part ``best`` aggregate is broadcast too, so the only big shuffle
    is the (partkey, suppkey) aggregate."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    p = load(spark, sf_dir, "part")
    eu_supp = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    cost = (
        l.join(eu_supp, l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name", "n_name")
        .agg(F.min(_dec("l_extendedprice")).alias("c"))
    )
    best = cost.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("c").alias("mc")
    )
    return (
        cost.join(
            F.broadcast(best),
            (cost.l_partkey == F.col("b_partkey")) & (cost.c == F.col("mc")),
        )
        .join(
            F.broadcast(p.filter(F.col("p_type") == "LARGE")),
            cost.l_partkey == p.p_partkey,
        )
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.col("c").cast("double").alias("supply_cost"),
        )
    )


@query(
    "q8_market_share",
    """
    SELECT CAST(date_part('year', o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                              (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS nation_volume,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS total_volume
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer cu ON cu.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = cu.c_nationkey
    JOIN region r ON r.r_regionkey = n1.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of regional market volume per
    year — an 8-table star with the nation dim in two roles (customer
    market region, supplier origin) and a conditional-sum numerator over
    the same rows as the denominator (one aggregate, not two scans).
    Exact-decimal sums are exposed as numerator/denominator columns; the
    share is their IEEE-double quotient, identical across engines."""
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part")
    cu = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    one = F.lit(1).cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    vol = _dec("l_extendedprice") * (one - _dec("l_discount"))
    am_cust = F.broadcast(
        cu.join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = F.broadcast(
        s.join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"),
                                 F.col("n_name").alias("supp_nation"))),
            s.s_nationkey == F.col("sn_key"),
        ).select("s_suppkey", "supp_nation")
    )
    orders_window = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        l.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")),
               l.l_partkey == p.p_partkey)
        .join(orders_window, l.l_orderkey == F.col("o_orderkey"))
        .join(am_cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp_nation, l.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero))
            .cast("double")
            .alias("nation_volume"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
    )


@query(
    "q11_important_parts",
    """
    WITH v AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   (1 - CAST(l_discount AS DECIMAL(18,2)))) AS val
        FROM lineitem GROUP BY 1
    ),
    thr AS (SELECT SUM(val) AS tot, CAST(COUNT(*) AS BIGINT) AS cnt FROM v)
    SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
    FROM v, thr WHERE v.val * thr.cnt > thr.tot
    """,
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: groups retained only when their aggregate exceeds
    a global-scalar-subquery threshold.  The threshold ("above-average
    part value", val*cnt > tot) is scale-free and compared in exact
    decimals — no float boundary drift.  The 1-row global aggregate is
    broadcast into the filter rather than re-scanning lineitem."""
    l = load(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    v = l.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).alias("val")
    )
    thr = v.agg(F.sum("val").alias("tot"), F.count(F.lit(1)).alias("cnt"))
    return (
        v.join(F.broadcast(thr))
        .filter(F.col("val") * F.col("cnt") > F.col("tot"))
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
    )


@query(
    "q12_priority_shipping",
    """
    SELECT CAST(date_part('year', l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate
    GROUP BY 1
    """,
)
def q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape: fact⋈fact join with a cross-table inequality
    residual (shipped after order date — the receipt/commit-date lag
    analogue; testdata has no l_shipmode, so the grouping axis is ship
    year) and complementary conditional counts in a single aggregate."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q16_supplier_variety",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    triple, with a NOT IN blacklist subquery.  The blacklist becomes a
    broadcast left-anti join (no null-trap: s_suppkey is non-null); the
    part dim is broadcast after its selective brand/size filter."""
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    bad = s.filter(F.col("s_acctbal") < 1000).select("s_suppkey")
    pf = p.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    return (
        l.join(F.broadcast(bad), l.l_suppkey == F.col("s_suppkey"), "leftanti")
        .join(F.broadcast(pf), l.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_part_promotion",
    """
    WITH qty AS (
        SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY 1, 2
    ),
    tot AS (SELECT l_partkey, SUM(sq) AS tq FROM qty GROUP BY 1)
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN qty ON qty.l_suppkey = s.s_suppkey
    JOIN tot ON tot.l_partkey = qty.l_partkey
    WHERE qty.sq * 2 > tot.tq
      AND qty.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
    """,
)
def q20_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape: nested IN-subqueries → chained semi-joins.
    Suppliers who moved a majority (sq*2 > tq, exact decimal) of some
    promo part's yearly volume.  The LIKE-filtered part list is a
    broadcast semi-join; the per-part total is broadcast back against the
    (part, supplier) aggregate — one big shuffle total."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    window = l.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    promo = p.filter(F.col("p_name").like("%widget%")).select("p_partkey")
    qty = (
        window.join(F.broadcast(promo), l.l_partkey == F.col("p_partkey"), "leftsemi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("sq"))
    )
    tot = qty.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("sq").alias("tq")
    )
    winners = (
        qty.join(F.broadcast(tot), qty.l_partkey == F.col("t_partkey"))
        .filter(F.col("sq") * 2 > F.col("tq"))
        .select("l_suppkey")
    )
    return (
        F.broadcast(s)
        .join(winners, s.s_suppkey == F.col("l_suppkey"), "leftsemi")
        .select("s_suppkey", "s_name")
    )


@query(
    "q21_waiting_suppliers",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1
    """,
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: the sole-blame pattern — an EXISTS and a NOT
    EXISTS against the same fact table (multi-supplier order, but no
    *other* supplier returned).  Both become one-pass semi/anti joins on
    the order key with a suppkey-inequality residual (testdata has no
    receipt/commit dates, so l_returnflag='R' marks the "late" lines)."""
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    l1 = l.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = l.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = l.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(
            o.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            l1.l_orderkey == F.col("o_orderkey"),
            "leftsemi",
        )
        .join(
            l2,
            (l1.l_orderkey == F.col("o2")) & (l1.l_suppkey != F.col("s2")),
            "leftsemi",
        )
        .join(
            l3,
            (l1.l_orderkey == F.col("o3")) & (l1.l_suppkey != F.col("s3")),
            "leftanti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q22_dormant_customers",
    """
    WITH pool AS (
        SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer WHERE c_nationkey IN (0, 1, 2, 3)
    ),
    thr AS (SELECT SUM(bal) AS tot, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM pool WHERE bal > 0)
    SELECT p.c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(p.bal) AS DOUBLE) AS totacctbal
    FROM pool p, thr
    WHERE p.bal * thr.cnt > thr.tot
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = p.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY 1
    """,
)
def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape: rich-but-dormant customers — a scalar AVG
    subquery threshold plus a NOT EXISTS anti-join on recent orders
    (nation-key buckets stand in for phone country codes).  The average
    is compared as bal*cnt > tot in exact decimals, sidestepping
    cross-engine AVG rounding; the 1-row threshold broadcasts."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    pool = c.filter(F.col("c_nationkey").isin(0, 1, 2, 3)).select(
        "c_custkey", "c_nationkey", _dec("c_acctbal").alias("bal")
    )
    thr = pool.filter(F.col("bal") > 0).agg(
        F.sum("bal").alias("tot"), F.count(F.lit(1)).alias("cnt")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        pool.join(F.broadcast(thr))
        .filter(F.col("bal") * F.col("cnt") > F.col("tot"))
        .join(recent, pool.c_custkey == F.col("o_custkey"), "leftanti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
    )


@query(
    "value_histogram",
    """
    SELECT CAST(LEAST(FLOOR(value / 25), 12) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def value_histogram(spark, sf_dir):
    """Fixed-bucket value histogram — the distribution-profiling scan
    (width_bucket analogue written as floor division + cap so both
    engines run byte-identical arithmetic).  One codegen'd aggregate."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.least(F.floor(F.col("value") / 25), F.lit(12))
            .cast("long")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "gap_filled_daily_counts",
    """
    WITH days AS (
      SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                                    INTERVAL 1 DAY))::DATE AS day),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      GROUP BY 1, 2)
    SELECT d.day, t.event_type, COALESCE(c.n, 0) AS n
    FROM days d CROSS JOIN types t
    LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
    """,
)
def gap_filled_daily_counts(spark, sf_dir):
    """Time-series gap filling: a generated day spine × observed keys,
    left-joined to actual counts with zero-fill — dashboards need the
    empty days.  The spine is generated (sequence + explode), never
    scanned; counts aggregate once; the spine side broadcasts (31 days ×
    |types| rows regardless of fact size)."""
    e = load(spark, sf_dir, "events")
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    types = e.select("event_type").distinct()
    counts = (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-02-01").cast("timestamp"))
        )
        .groupBy(F.to_date("ts").alias("c_day"), F.col("event_type").alias("c_type"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    spine = F.broadcast(days.crossJoin(types))
    return (
        spine.join(
            counts,
            (F.col("day") == F.col("c_day")) & (F.col("event_type") == F.col("c_type")),
            "left",
        )
        .select("day", "event_type", F.coalesce(F.col("cn"), F.lit(0)).alias("n"))
    )


@query(
    "lateral_top_orders",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    WHERE c.c_custkey < 20
    """,
)
def lateral_top_orders(spark, sf_dir):
    """Correlated LATERAL subquery through the spark.sql() surface —
    top-2 orders per customer.  Catalyst decorrelates the LATERAL
    ORDER-BY-LIMIT into a per-key rank (same plan family as the window
    form); this pins the SQL-text feature itself."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM lat_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM lat_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_custkey < 20
        """
    )


@query(
    "props_typed_projection",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS max_k,
           CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                           > 50 THEN 1 END) AS BIGINT) AS n_high
    FROM events GROUP BY 1
    """,
)
def props_typed_projection(spark, sf_dir):
    """Schema-on-read JSONB analogue (SURVEY.md §1.3): the props payload
    projected to a typed column via from_json and aggregated — the
    registered-payload-schema pattern for the events ``data`` column.
    from_json parses once per row into a struct (vs repeated
    get_json_object probes per field)."""
    from pyspark.sql.types import LongType, StructField, StructType

    k = F.from_json(F.col("props"), StructType([StructField("k", LongType())]))["k"]
    return (
        load(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
        )
    )


@query(
    "customers_every_priority",
    """
    SELECT o_custkey AS c_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
    HAVING COUNT(DISTINCT o_orderpriority) =
           (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
    """,
)
def customers_every_priority(spark, sf_dir):
    """Relational division (the 'bought ALL brands' shape): customers with
    orders in every priority class.  The universe cardinality is a 1-row
    scalar broadcast into the HAVING filter — one aggregate over orders,
    no per-class joins."""
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
    )
    universe = o.agg(F.countDistinct("o_orderpriority").alias("total_prio"))
    return (
        per_cust.join(F.broadcast(universe))
        .filter(F.col("n_prio") == F.col("total_prio"))
        .select("c_custkey", "n_orders")
    )


@query(
    "user_mode_event_type",
    """
    SELECT user_id, event_type AS mode_type, n FROM (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
             ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events WHERE user_id < 50 GROUP BY 1, 2)
    WHERE rn = 1
    """,
)
def user_mode_event_type(spark, sf_dir):
    """Per-group mode (most frequent value): count aggregate + rank-1
    window with a deterministic tie-break — the groupwise-argmax family's
    categorical member (max_by covers the continuous one)."""

    counts = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@query(
    "session_window_rollup",
    """
    WITH flagged AS (
        -- gap test in exact integer microseconds: date_diff('second')
        -- counts BOUNDARY CROSSINGS, so a 1738.7s real gap can read as
        -- 1739 and split a session Spark correctly merges
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR epoch_us(ts) -
                            epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
                            >= 1739 * 1000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ), numbered AS (
        SELECT user_id, ts, value,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 1739 SECOND AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM numbered GROUP BY user_id, sid
    """,
)
def session_window_rollup(spark, sf_dir):
    """Native session-window aggregation (F.session_window, the operator
    Structured Streaming uses for dynamic-gap sessions) in batch mode —
    the same sessions as the gaps-and-islands form (`user_sessions`) but
    expressed as ONE groupBy, letting Spark's MergingSessionsExec merge
    sort-adjacent sessions without a window-function pass.

    Tie semantics pinned by the oracle: an event exactly gap seconds after
    the previous one starts a NEW session (windows are half-open
    [start, last+gap)), so the islands break condition is `diff >= gap`.
    1739s (~29 min) is deliberately not minute-aligned.  session_end is
    last event + gap, matching session_window.end."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "1739 seconds"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "user_type_sequence",
    """
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY ts, event_id) AS type_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE user_id < 30 GROUP BY user_id
    """,
)
def user_type_sequence(spark, sf_dir):
    """Ordered string aggregation (LISTAGG / string_agg WITH GROUP ORDER):
    the per-user event-type journey, the feature-engineering shape behind
    funnel and next-action models.  Spark's collect_list is order-
    nondeterministic, so the deterministic form collects (ts, event_id,
    type) structs and array_sorts them post-agg — the sort happens on the
    already-reduced per-user array, not as a shuffle-wide ORDER BY."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ),
        ",",
    )
    return e.groupBy("user_id").agg(
        seq.alias("type_seq"), F.count(F.lit(1)).alias("n_events")
    )


@query(
    "value_band_rollup",
    """
    WITH bands(band, lo, hi) AS (
        VALUES ('micro', 0.0, 5.0), ('small', 5.0, 25.0),
               ('medium', 25.0, 100.0), ('large', 100.0, 1000.0)
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def value_band_rollup(spark, sf_dir):
    """Interval-containment (band) join: classify every event into a value
    band via a non-equi join against a tiny interval table — the
    range-join family the reference never needs but telemetry pipelines
    constantly do.  The band table broadcasts, so the plan is a
    BroadcastNestedLoopJoin with the range predicate evaluated stream-side
    (no shuffle, no cartesian blow-up: bands are disjoint so each event
    matches at most one).  At 100 TB the scan side never moves."""
    spark_df = load(spark, sf_dir, "events")
    bands = spark_df.sparkSession.createDataFrame(
        [
            ("micro", 0.0, 5.0),
            ("small", 5.0, 25.0),
            ("medium", 25.0, 100.0),
            ("large", 100.0, 1000.0),
        ],
        "band string, lo double, hi double",
    )
    return (
        spark_df.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


@query(
    "event_transition_counts",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_counts(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences
    (the n-gram count table of behavioral modeling).  The lag window and
    nothing else orders the stream; the (prev, next) count aggregate
    combines map-side.  One hash exchange on user_id for the window, one
    for the pair counts."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "cohort_retention",
    """
    WITH cohort AS (
        SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_day
        FROM events GROUP BY 1
    ),
    act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM act JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-seen day, counted
    on each subsequent active day offset.  Both sides (first-seen MIN and
    distinct active days) aggregate on user_id before the join, so the
    join input is |users| rows per side, not |events| — and they share the
    user_id partitioning, so the join itself adds no exchange."""
    e = load(spark, sf_dir, "events")
    cohort = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    act = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "funnel_conversion",
    """
    WITH per_user AS (
        SELECT user_id,
               MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
               MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
               MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
        FROM events GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT) AS n_view,
           CAST(COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view)
               AS BIGINT) AS n_click_after_view,
           CAST(COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                                   AND t_purchase > t_click)
               AS BIGINT) AS n_full_funnel
    FROM per_user
    """,
)
def funnel_conversion(spark, sf_dir):
    """Ordered funnel (view → click → purchase): per-user first-touch
    timestamps via conditional MIN, then ordered-step predicates counted
    in ONE pass — no self-joins (the naive funnel is an |steps|-way
    self-join; the conditional-aggregate form is one shuffle on user_id
    plus a single-row final reduce)."""
    e = load(spark, sf_dir, "events")

    def first_ts(ev):
        return F.min(F.when(F.col("event_type") == ev, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(viewed, 1)).alias("n_view"),
        F.count(F.when(clicked, 1)).alias("n_click_after_view"),
        F.count(F.when(purchased, 1)).alias("n_full_funnel"),
    )


@query(
    "range_frame_revenue",
    """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        FROM events GROUP BY 1
    )
    SELECT day,
           CAST(rev AS DOUBLE) AS day_revenue,
           CAST(SUM(rev) OVER (ORDER BY day
                RANGE BETWEEN INTERVAL 2 DAY PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS trailing_3d_revenue
    FROM daily
    """,
)
def range_frame_revenue(spark, sf_dir):
    """RANGE-interval window frame: trailing-3-calendar-day revenue.
    Unlike a ROWS frame (`daily_moving_average`), RANGE bounds are VALUE
    based — a missing calendar day shrinks the window instead of silently
    widening it to older rows.  The frame runs over the already-aggregated
    daily table (≤ a few hundred rows after the first shuffle), so the
    unpartitioned window is a non-issue; the decimal sum keeps the oracle
    exact."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(_dec("value")).cast("decimal(18,2)").alias("rev")
    )
    daily.createOrReplaceTempView("_daily_rev")
    return daily.sparkSession.sql(
        """
        SELECT day,
               CAST(rev AS DOUBLE) AS day_revenue,
               CAST(SUM(rev) OVER (ORDER BY day
                    RANGE BETWEEN INTERVAL 2 DAY PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS trailing_3d_revenue
        FROM _daily_rev
        """
    )


@query(
    "unpivot_event_metrics",
    """
    WITH wide AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase
        FROM events GROUP BY 1
    )
    SELECT day, metric, n
    FROM wide UNPIVOT (n FOR metric IN (n_click, n_view, n_purchase))
    """,
)
def unpivot_event_metrics(spark, sf_dir):
    """UNPIVOT (wide→long melt) — the inverse of `pivot_daily_event_counts`.
    The wide daily table is built with conditional aggregates (one shuffle);
    the melt itself is a zero-shuffle row explosion (3 output rows per
    input row), so the long form costs nothing extra at scale."""
    e = load(spark, sf_dir, "events")
    wide = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
    )
    return wide.unpivot(
        ["day"], ["n_click", "n_view", "n_purchase"], "metric", "n"
    )


@query(
    "dow_quarter_rollup",
    """
    SELECT CAST(quarter(ts) AS INT) AS qtr,
           CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM events
    GROUP BY 1, 2
    """,
)
def dow_quarter_rollup(spark, sf_dir):
    """Calendar-part rollup: quarter × day-of-week seasonality grid.
    Convention trap pinned here: Spark's ``dayofweek`` is 1=Sunday..7,
    DuckDB's is 0=Sunday..6 — the oracle shifts by +1 to agree."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.quarter("ts").alias("qtr"), F.dayofweek("ts").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value")).cast("double").alias("revenue"),
    )


@query(
    "peak_concurrency_daily",
    """
    WITH b AS (
        SELECT ts AS t, 1 AS delta FROM events
        UNION ALL
        SELECT ts + INTERVAL 300 SECOND AS t, -1 AS delta FROM events
    ),
    r AS (
        SELECT CAST(date_trunc('day', t) AS DATE) AS day,
               SUM(delta) OVER (ORDER BY t, delta) AS live
        FROM b
    )
    SELECT day,
           CAST(MAX(live) AS BIGINT) AS peak_concurrency
    FROM r GROUP BY 1
    """,
)
def peak_concurrency_daily(spark, sf_dir):
    """Interval sweep-line: peak number of simultaneously-live 5-minute
    event windows per day.  The oracle's single global running sum is the
    semantics; the Spark plan is the two-phase carry form that stays
    parallel — per-day local running sums (parallel windows) plus a
    broadcast cumulative carry of previous days' net deltas.  Tie handling
    is frame-exact on both sides: the default RANGE frame sums ALL peers
    at an equal (t, delta) sort key, so equal-timestamp batches resolve
    identically; ends (-1) sort before starts (+1), closing intervals
    before opening new ones at the same instant."""
    e = load(spark, sf_dir, "events")
    starts = e.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = e.select(
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    b = starts.unionByName(ends).withColumn("day", F.to_date("t"))
    day_w = Window.partitionBy("day").orderBy("t", "delta")
    local = b.withColumn("local_live", F.sum("delta").over(day_w))
    day_totals = b.groupBy("day").agg(F.sum("delta").alias("net"))
    carry_w = (
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = day_totals.select(
        "day", F.coalesce(F.sum("net").over(carry_w), F.lit(0)).alias("carry")
    )
    return (
        local.join(F.broadcast(carry), "day")
        .groupBy("day")
        .agg(
            F.max(F.col("local_live") + F.col("carry"))
            .cast("long")
            .alias("peak_concurrency")
        )
    )


@query(
    "trailing_7d_active_users",
    """
    WITH act AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM act)
    SELECT d.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_7d
    FROM days d JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1
    """,
)
def trailing_7d_active_users(spark, sf_dir):
    """Trailing-7-day distinct active users per day — the sliding-window
    COUNT DISTINCT that window frames cannot express (distinct aggregates
    are not frame-able in either engine).  Re-expressed as a band join of
    the tiny day spine (broadcast) against the per-day distinct activity
    set: |users|·7 intermediate rows, NOT |events|·7 — the distinct
    collapses first.  At 100 TB the activity set is the small derived
    table; the raw log is touched once."""
    e = load(spark, sf_dir, "events")
    act = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = F.broadcast(act.select(F.col("day").alias("d")).distinct())
    return (
        act.join(
            days,
            (F.col("day") >= F.date_sub(F.col("d"), 6)) & (F.col("day") <= F.col("d")),
        )
        .groupBy(F.col("d").alias("day"))
        .agg(F.count_distinct("user_id").alias("active_7d"))
    )


@query(
    "revenue_share_by_nation",
    """
    WITH rev AS (
        SELECT n.n_name,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
                   AS nation_rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    )
    SELECT n_name,
           CAST(nation_rev AS DOUBLE) AS revenue,
           CAST(nation_rev AS DOUBLE)
             / CAST(SUM(nation_rev) OVER () AS DOUBLE) AS revenue_share
    FROM rev
    """,
)
def revenue_share_by_nation(spark, sf_dir):
    """Percent-of-total (RATIO_TO_REPORT): each nation's share of global
    order revenue.  The unpartitioned window runs over the 25-row
    aggregate, not the fact table; dimension joins broadcast; the share
    division happens on exact decimal totals cast to double."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    rev = (
        # customer grows with SF — strategy left to AQE;
        # nation (25 rows) stays hinted
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(_dec("o_totalprice")).cast("decimal(38,2)").alias("nation_rev"))
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        F.col("nation_rev").cast("double").alias("revenue"),
        (
            F.col("nation_rev").cast("double")
            / F.sum("nation_rev").over(w).cast("double")
        ).alias("revenue_share"),
    )


@query(
    "grouping_sets_sales",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
               AS grp_id,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_sales(spark, sf_dir):
    """Explicit GROUPING SETS (neither ROLLUP nor CUBE can express this
    mix: two one-dimensional slices + grand total, no cross product) with
    GROUPING() disambiguating produced NULLs from data NULLs.  One shuffle
    — Spark expands the sets map-side and aggregates once."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
                   AS grp_id,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "locf_value_fill",
    """
    WITH base AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    )
    SELECT user_id, event_id,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS filled_value
    FROM base
    """,
)
def locf_value_fill(spark, sf_dir):
    """LOCF (last-observation-carried-forward) gap fill — the sensor
    time-series repair: error readings become NULL and inherit the most
    recent good value via an IGNORE NULLS running window.  One shuffle
    (per-user window); rows before any observation stay NULL, exactly as
    both engines define the empty frame."""
    e = load(spark, sf_dir, "events")
    v = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.last(v, ignorenulls=True).over(w).alias("filled_value"),
    )


@query(
    "user_recent_types_digest",
    """
    SELECT user_id,
           array_to_string(
               list(event_type ORDER BY ts DESC, event_id DESC)[1:3],
               '>') AS recent_types
    FROM events GROUP BY 1
    """,
)
def user_recent_types_digest(spark, sf_dir):
    """Per-user digest of the 3 most recent event types, newest first —
    the ordered-array-slice feature builder (recommendation/feature-store
    shape).  Spark has no ORDER BY inside collect_list, so the order is
    carried in the collected structs and imposed afterwards with
    sort_array — still one shuffle, and the per-group sort work is
    identical.  The digest leaves as a plain string, so hashing is
    engine-stable."""
    e = load(spark, sf_dir, "events")
    collected = e.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_id", "event_type")).alias("evs")
    )
    # sort desc by (ts, event_id): sort_array asc on negated keys is not
    # possible for timestamps — sort asc then reverse (total order, so
    # reverse(asc) == desc).
    ordered = F.reverse(F.sort_array("evs"))
    return collected.select(
        "user_id",
        F.array_join(
            F.slice(F.transform(ordered, lambda s: s["event_type"]), 1, 3), ">"
        ).alias("recent_types"),
    )


@query(
    "lang_source_mutual_info",
    """
    WITH j AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(c) AS n FROM j),
    ml AS (SELECT lang, SUM(c) AS cl FROM j GROUP BY 1),
    ms AS (SELECT source, SUM(c) AS cs FROM j GROUP BY 1)
    SELECT CAST(SUM(CAST(ROUND(
               (CAST(j.c AS DOUBLE) / tot.n)
                 * log2((CAST(j.c AS DOUBLE) * tot.n)
                        / (CAST(ml.cl AS DOUBLE) * ms.cs)), 12)
               AS DECIMAL(20,12))) AS DOUBLE) AS mutual_info_bits,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM j
    JOIN ml USING (lang)
    JOIN ms USING (source)
    CROSS JOIN tot
    """,
)
def lang_source_mutual_info(spark, sf_dir):
    """Mutual information I(lang; source) in bits — 'does source predict
    language?', the association probe between two categorical columns.
    All probabilities come from one (lang, source) contingency aggregate;
    marginals are windows over that tiny table (no re-scan); each cell's
    term is rounded to decimal before the cross-row sum (order-free), the
    same stabilization as the entropy operator."""
    d = load(spark, sf_dir, "documents")
    j = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    j = (
        j.withColumn("n", F.sum("c").over(Window.partitionBy()))
        .withColumn("cl", F.sum("c").over(Window.partitionBy("lang")))
        .withColumn("cs", F.sum("c").over(Window.partitionBy("source")))
    )
    term = F.round(
        (F.col("c").cast("double") / F.col("n"))
        * F.log2(
            (F.col("c").cast("double") * F.col("n"))
            / (F.col("cl").cast("double") * F.col("cs"))
        ),
        12,
    ).cast("decimal(20,12)")
    return j.agg(
        F.sum(term).cast("double").alias("mutual_info_bits"),
        F.count(F.lit(1)).alias("n_cells"),
    )


@query(
    "payload_schema_evolution",
    """
    WITH versioned AS (
      SELECT event_id,
             CAST(event_id % 3 + 1 AS BIGINT) AS event_version,
             CASE
               WHEN event_id % 3 = 0 THEN props
               WHEN event_id % 3 = 1 THEN replace(props, '"k"', '"k_id"')
               ELSE rtrim(replace(props, '"k"', '"k_id"'), '}')
                    || ', "note": "' || event_type || '"}'
             END AS data
      FROM events
    )
    SELECT event_id, event_version,
           CASE WHEN event_version = 1
                THEN CAST(json_extract_string(data, '$.k') AS BIGINT)
                ELSE CAST(json_extract_string(data, '$.k_id') AS BIGINT)
           END AS k_id,
           CASE WHEN event_version = 3
                THEN json_extract_string(data, '$.note')
           END AS note
    FROM versioned
    """,
)
def payload_schema_evolution(spark, sf_dir):
    """Rename + widen + add across a 3-version payload chain (r6, VERDICT
    r5 #5): v1 {k INT} → v2 renames k→k_id and widens to BIGINT → v3 adds
    note STRING.  The operator under test is ``typed_payload_column`` with
    per-version rename maps (what ``EventStore.events_typed`` applies
    after ``register_payload_schema(..., renamed_from=...)``): v1 rows'
    ``k`` must route into the latest ``k_id`` WITH the int→bigint widen,
    v2 rows carry no note, v3 rows carry both.  The oracle types the same
    JSON by hand, so a wrong rename walk, a dropped widen, or version
    cross-talk all hash-mismatch.  Still a pure from_json + CASE
    projection — zero shuffle, codegen end-to-end."""
    from fstore_sql_spark.functions.typed_payload import typed_payload_column

    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn(
        "event_version", (F.col("event_id") % 3 + 1).cast("long")
    ).withColumn(
        "data",
        F.when(F.col("event_version") == 1, F.col("props"))
        .when(
            F.col("event_version") == 2,
            F.replace(F.col("props"), F.lit('"k"'), F.lit('"k_id"')),
        )
        .otherwise(
            F.concat(
                F.expr(
                    "trim(TRAILING '}' FROM replace(props, '\"k\"', '\"k_id\"'))"
                ),
                F.lit(', "note": "'),
                F.col("event_type"),
                F.lit('"}'),
            )
        ),
    )
    schemas = {1: "k INT", 2: "k_id BIGINT", 3: "k_id BIGINT, note STRING"}
    renames = {2: {"k_id": "k"}}
    typed = ev.withColumn(
        "payload",
        typed_payload_column(
            F.col("data"), F.col("event_version"), schemas, renames=renames
        ),
    )
    return typed.select(
        "event_id",
        "event_version",
        F.col("payload.k_id").alias("k_id"),
        F.col("payload.note").alias("note"),
    )


@query(
    "payload_schema_evolution_nested",
    """
    WITH versioned AS (
      SELECT event_id,
             CAST(event_id % 3 + 1 AS BIGINT) AS event_version,
             CASE
               WHEN event_id % 3 = 0 THEN '{"meta": ' || props || '}'
               WHEN event_id % 3 = 1
                 THEN '{"meta": ' || replace(props, '"k"', '"k_id"') || '}'
               ELSE '{"meta": ' || rtrim(replace(props, '"k"', '"k_id"'), '}')
                    || ', "note": "' || event_type || '"}'
                    || ', "tag": "' || event_type || '"}'
             END AS data
      FROM events
    )
    SELECT event_id, event_version,
           CASE WHEN event_version = 1
                THEN CAST(json_extract_string(data, '$.meta.k') AS BIGINT)
                ELSE CAST(json_extract_string(data, '$.meta.k_id') AS BIGINT)
           END AS k_id,
           CASE WHEN event_version = 3
                THEN json_extract_string(data, '$.meta.note')
           END AS note,
           CASE WHEN event_version = 3
                THEN json_extract_string(data, '$.tag')
           END AS tag
    FROM versioned
    """,
)
def payload_schema_evolution_nested(spark, sf_dir):
    """NESTED rename + widen + add across a 3-version payload chain (the
    reference's own stress corpus is nested JSONB,
    tests/performance/benchmarks/test_stress_conditions.sql:35-39):
    v1 {meta {k INT}} → v2 renames meta.k→meta.k_id (dotted-path rename)
    and widens to BIGINT → v3 adds meta.note STRING and top-level tag.
    The operator under test is ``typed_payload_column``'s recursive
    struct upcast: v1 rows' nested ``meta.k`` must route into
    ``meta.k_id`` WITH the int→bigint widen, earlier versions carry
    typed-NULL ``note``/``tag``.  The oracle types the same nested JSON
    by hand via '$.meta.*' paths, so a wrong nested rename walk, a
    dropped nested widen, or a struct-of-NULLs-instead-of-NULL parent
    all hash-mismatch.  Still a pure from_json + CASE + struct
    projection — zero shuffle, codegen end-to-end."""
    from fstore_sql_spark.functions.typed_payload import typed_payload_column

    # spread: the per-row from_json parse of the synthesized
    # 3-version payloads otherwise runs in the single scan task of the
    # small events file (measured -29/-36/-49 % across the trio).
    # starved_only: at 16-partition inputs (sf1) the exchange of the
    # heavy props rows LOST (up to +84 %), so fire only on the
    # 1-row-group pathology.
    ev = spread(load(spark, sf_dir, "events"), starved_only=True)
    inner_v3 = F.concat(
        F.expr("trim(TRAILING '}' FROM replace(props, '\"k\"', '\"k_id\"'))"),
        F.lit(', "note": "'),
        F.col("event_type"),
        F.lit('"}'),
    )
    ev = ev.withColumn(
        "event_version", (F.col("event_id") % 3 + 1).cast("long")
    ).withColumn(
        "data",
        F.when(
            F.col("event_version") == 1,
            F.concat(F.lit('{"meta": '), F.col("props"), F.lit("}")),
        )
        .when(
            F.col("event_version") == 2,
            F.concat(
                F.lit('{"meta": '),
                F.replace(F.col("props"), F.lit('"k"'), F.lit('"k_id"')),
                F.lit("}"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"meta": '),
                inner_v3,
                F.lit(', "tag": "'),
                F.col("event_type"),
                F.lit('"}'),
            )
        ),
    )
    schemas = {
        1: "meta STRUCT<k: INT>",
        2: "meta STRUCT<k_id: BIGINT>",
        3: "meta STRUCT<k_id: BIGINT, note: STRING>, tag STRING",
    }
    renames = {2: {"meta.k_id": "meta.k"}}
    typed = ev.withColumn(
        "payload",
        typed_payload_column(
            F.col("data"), F.col("event_version"), schemas, renames=renames
        ),
    )
    return typed.select(
        "event_id",
        "event_version",
        F.col("payload.meta.k_id").alias("k_id"),
        F.col("payload.meta.note").alias("note"),
        F.col("payload.tag").alias("tag"),
    )


@query(
    "payload_schema_evolution_array",
    """
    WITH versioned AS (
      SELECT event_id,
             CAST(event_id % 3 + 1 AS BIGINT) AS event_version,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             event_type
      FROM events
    ), built AS (
      SELECT event_id, event_version,
             CASE
               WHEN event_version = 1
                 THEN '{"items": [{"p": ' || k || '}, {"p": ' || (k + 1) || '}]}'
               WHEN event_version = 2
                 THEN '{"items": [{"price": ' || k || '}]}'
               ELSE '{"entries": [{"price": ' || k || ', "q": "' || event_type
                    || '"}, {"price": ' || (k * 2) || ', "q": "x"}]}'
             END AS data
      FROM versioned
    )
    SELECT event_id, event_version,
           CAST(CASE WHEN event_version = 1
                     THEN json_extract_string(data, '$.items[0].p')
                     WHEN event_version = 2
                     THEN json_extract_string(data, '$.items[0].price')
                     ELSE json_extract_string(data, '$.entries[0].price')
                END AS BIGINT) AS price0,
           CAST(CASE WHEN event_version = 1
                     THEN json_extract_string(data, '$.items[1].p')
                     WHEN event_version = 2
                     THEN json_extract_string(data, '$.items[1].price')
                     ELSE json_extract_string(data, '$.entries[1].price')
                END AS BIGINT) AS price1,
           CASE WHEN event_version = 3
                THEN json_extract_string(data, '$.entries[0].q')
           END AS q0,
           CAST(CASE WHEN event_version = 3
                     THEN json_array_length(data, '$.entries')
                     ELSE json_array_length(data, '$.items')
                END AS BIGINT) AS n_entries
    FROM built
    """,
)
def payload_schema_evolution_array(spark, sf_dir):
    """ARRAY-OF-STRUCT rename + widen + add across a 3-version payload
    chain (the reference's stress corpus builds a 100-element array inside nested JSONB,
    tests/performance/benchmarks/test_stress_conditions.sql:35-39):
    v1 {items array<{p INT}>} → v2 renames the ELEMENT field
    items.p→items.price (dotted path through the array) and widens to
    BIGINT → v3 renames the ARRAY itself items→entries and adds element
    field q STRING.  The operator under test is ``typed_payload_column``'s
    ``F.transform`` elementwise rebuild: v1 rows' element ``p`` values
    must route into ``entries[].price`` WITH the int→bigint widen, the
    re-rooted array rename must carry v1/v2 rows into ``entries``, and
    earlier versions' elements read ``q`` as typed NULLs.  The oracle
    types the same JSON by hand via '$.items[i].p'-style positional
    paths, so a wrong element rename walk, a dropped element widen, or
    an array that degraded to NULL/[] all hash-mismatch.  Still a pure
    from_json + transform + CASE projection — zero shuffle, codegen
    end-to-end (plan pinned in tests/test_plans.py)."""
    from fstore_sql_spark.functions.typed_payload import typed_payload_column

    # spread: the per-row from_json parse of the synthesized
    # 3-version payloads otherwise runs in the single scan task of the
    # small events file (measured -29/-36/-49 % across the trio).
    # starved_only: at 16-partition inputs (sf1) the exchange of the
    # heavy props rows LOST (up to +84 %), so fire only on the
    # 1-row-group pathology.
    ev = spread(load(spark, sf_dir, "events"), starved_only=True)
    k = F.get_json_object("props", "$.k").cast("long")
    ev = (
        ev.withColumn("event_version", (F.col("event_id") % 3 + 1).cast("long"))
        .withColumn("k", k)
        .withColumn(
            "data",
            F.when(
                F.col("event_version") == 1,
                F.concat(
                    F.lit('{"items": [{"p": '),
                    F.col("k"),
                    F.lit('}, {"p": '),
                    F.col("k") + 1,
                    F.lit("}]}"),
                ),
            )
            .when(
                F.col("event_version") == 2,
                F.concat(
                    F.lit('{"items": [{"price": '), F.col("k"), F.lit("}]}")
                ),
            )
            .otherwise(
                F.concat(
                    F.lit('{"entries": [{"price": '),
                    F.col("k"),
                    F.lit(', "q": "'),
                    F.col("event_type"),
                    F.lit('"}, {"price": '),
                    F.col("k") * 2,
                    F.lit(', "q": "x"}]}'),
                )
            ),
        )
    )
    schemas = {
        1: "items ARRAY<STRUCT<p: INT>>",
        2: "items ARRAY<STRUCT<price: BIGINT>>",
        3: "entries ARRAY<STRUCT<price: BIGINT, q: STRING>>",
    }
    renames = {2: {"items.price": "items.p"}, 3: {"entries": "items"}}
    typed = ev.withColumn(
        "payload",
        typed_payload_column(
            F.col("data"), F.col("event_version"), schemas, renames=renames
        ),
    )
    entries = F.col("payload.entries")
    # F.get, not getItem: ANSI mode throws on out-of-bounds (v2 rows have
    # a 1-element array; the oracle's '$.items[1]' path reads NULL)
    return typed.select(
        "event_id",
        "event_version",
        F.get(entries, 0).getField("price").alias("price0"),
        F.get(entries, 1).getField("price").alias("price1"),
        F.get(entries, 0).getField("q").alias("q0"),
        F.size(entries).cast("long").alias("n_entries"),
    )


@query(
    "payload_schema_evolution_map",
    """
    WITH versioned AS (
      SELECT event_id,
             CAST(event_id % 3 + 1 AS BIGINT) AS event_version,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             event_type
      FROM events
    ), built AS (
      SELECT event_id, event_version,
             CASE
               WHEN event_version = 1
                 THEN '{"m": {"a": {"p": ' || k || '}, "b": {"p": '
                      || (k + 1) || '}}}'
               WHEN event_version = 2
                 THEN '{"m": {"a": {"price": ' || k || '}}}'
               ELSE '{"attrs": {"a": {"price": ' || k || ', "q": "'
                    || event_type || '"}, "b": {"price": ' || (k * 2)
                    || ', "q": "x"}}}'
             END AS data
      FROM versioned
    )
    SELECT event_id, event_version,
           CAST(CASE WHEN event_version = 1
                     THEN json_extract_string(data, '$.m.a.p')
                     WHEN event_version = 2
                     THEN json_extract_string(data, '$.m.a.price')
                     ELSE json_extract_string(data, '$.attrs.a.price')
                END AS BIGINT) AS price_a,
           CAST(CASE WHEN event_version = 1
                     THEN json_extract_string(data, '$.m.b.p')
                     WHEN event_version = 2
                     THEN NULL
                     ELSE json_extract_string(data, '$.attrs.b.price')
                END AS BIGINT) AS price_b,
           CASE WHEN event_version = 3
                THEN json_extract_string(data, '$.attrs.a.q')
           END AS q_a,
           CAST(CASE WHEN event_version = 2 THEN 1 ELSE 2
                END AS BIGINT) AS n_keys
    FROM built
    """,
)
def payload_schema_evolution_map(spark, sf_dir):
    """MAP-VALUE-STRUCT rename + widen + add across a 3-version payload
    chain (``map<string, struct<…>>`` payloads): v1
    {m map<string, {p INT}>} → v2 renames the VALUE field m.p→m.price
    (dotted path through the map) and widens to BIGINT → v3 renames the
    MAP itself m→attrs and adds value field q STRING.  The operator
    under test is ``typed_payload_column``'s ``F.transform_values``
    value rebuild with the rename map re-rooted at the value struct: v1
    rows' per-key ``p`` values must route into ``attrs[k].price`` WITH
    the int→bigint widen, the re-rooted map rename must carry v1/v2
    rows into ``attrs``, map KEYS must pass through untouched, and
    earlier versions' values read ``q`` as typed NULLs.  The oracle
    types the same JSON by hand via '$.m.a.p'-style object paths, so a
    wrong value-rename walk, a dropped widen, or a map degraded to NULL
    all hash-mismatch.  Pure from_json + transform_values + CASE
    projection — zero shuffle, codegen end-to-end."""
    from fstore_sql_spark.functions.typed_payload import typed_payload_column

    # spread: the per-row from_json parse of the synthesized
    # 3-version payloads otherwise runs in the single scan task of the
    # small events file (measured -29/-36/-49 % across the trio).
    # starved_only: at 16-partition inputs (sf1) the exchange of the
    # heavy props rows LOST (up to +84 %), so fire only on the
    # 1-row-group pathology.
    ev = spread(load(spark, sf_dir, "events"), starved_only=True)
    k = F.get_json_object("props", "$.k").cast("long")
    ev = (
        ev.withColumn("event_version", (F.col("event_id") % 3 + 1).cast("long"))
        .withColumn("k", k)
        .withColumn(
            "data",
            F.when(
                F.col("event_version") == 1,
                F.concat(
                    F.lit('{"m": {"a": {"p": '),
                    F.col("k"),
                    F.lit('}, "b": {"p": '),
                    F.col("k") + 1,
                    F.lit("}}}"),
                ),
            )
            .when(
                F.col("event_version") == 2,
                F.concat(
                    F.lit('{"m": {"a": {"price": '), F.col("k"), F.lit("}}}")
                ),
            )
            .otherwise(
                F.concat(
                    F.lit('{"attrs": {"a": {"price": '),
                    F.col("k"),
                    F.lit(', "q": "'),
                    F.col("event_type"),
                    F.lit('"}, "b": {"price": '),
                    F.col("k") * 2,
                    F.lit(', "q": "x"}}}'),
                )
            ),
        )
    )
    schemas = {
        1: "m MAP<STRING, STRUCT<p: INT>>",
        2: "m MAP<STRING, STRUCT<price: BIGINT>>",
        3: "attrs MAP<STRING, STRUCT<price: BIGINT, q: STRING>>",
    }
    renames = {2: {"m.price": "m.p"}, 3: {"attrs": "m"}}
    typed = ev.withColumn(
        "payload",
        typed_payload_column(
            F.col("data"), F.col("event_version"), schemas, renames=renames
        ),
    )
    attrs = F.col("payload.attrs")
    # try_element_at, not attrs["b"]: ANSI mode throws on a missing map
    # key (v2 rows have only key "a"; the oracle's '$.m.b' path reads NULL)
    return typed.select(
        "event_id",
        "event_version",
        F.try_element_at(attrs, F.lit("a")).getField("price").alias("price_a"),
        F.try_element_at(attrs, F.lit("b")).getField("price").alias("price_b"),
        F.try_element_at(attrs, F.lit("a")).getField("q").alias("q_a"),
        F.size(attrs).cast("long").alias("n_keys"),
    )


@query(
    "payload_schema_upcast",
    """
    WITH versioned AS (
      SELECT event_id,
             CAST(event_id % 2 + 1 AS BIGINT) AS event_version,
             CASE WHEN event_id % 2 = 0 THEN props
                  ELSE rtrim(props, '}') || ', "q": "' || event_type || '"}'
             END AS data
      FROM events
    )
    SELECT event_id, event_version,
           CAST(json_extract_string(data, '$.k') AS BIGINT) AS k,
           json_extract_string(data, '$.q') AS q
    FROM versioned
    """,
)
def payload_schema_upcast(spark, sf_dir):
    """Versioned payload schema registry + typed upcast view (SURVEY.md
    §1.3 schema-on-read — the reference keeps payloads
    opaque JSONB, /root/reference/schema.sql:37).  Rows alternate between
    payload v1 {k} and v2 {k, q}; the operator under test
    (``typed_payload_column``, what ``EventStore.events_typed`` applies)
    dispatches ``from_json`` on the version column and upcasts v1 rows to
    the latest shape with a typed NULL ``q``.  The oracle types the same
    JSON directly — so a wrong dispatch, a wrong upcast, or a dropped
    field all hash-mismatch.  Pure from_json + CASE projection: no
    shuffle, codegen end-to-end."""
    from fstore_sql_spark.functions.typed_payload import typed_payload_column

    ev = load(spark, sf_dir, "events")
    ev = ev.withColumn(
        "event_version", (F.col("event_id") % 2 + 1).cast("long")
    ).withColumn(
        "data",
        F.when(F.col("event_version") == 1, F.col("props")).otherwise(
            F.concat(
                F.expr("trim(TRAILING '}' FROM props)"),
                F.lit(', "q": "'),
                F.col("event_type"),
                F.lit('"}'),
            )
        ),
    )
    schemas = {1: "k BIGINT", 2: "k BIGINT, q STRING"}
    typed = ev.withColumn(
        "payload",
        typed_payload_column(F.col("data"), F.col("event_version"), schemas),
    )
    return typed.select(
        "event_id",
        "event_version",
        F.col("payload.k").alias("k"),
        F.col("payload.q").alias("q"),
    )
