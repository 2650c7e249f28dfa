"""Distributed statistics operators — profiling, anomaly detection and
distribution analysis over the shared testdata tables.

Training-data curation is mostly *statistics at scale*: profile a column,
find outliers, compare distributions between sources.  Everything here is
expressed as two-phase aggregations (partial map-side combine → small
reduce) so the plans hold at 100 TB, and every floating-point output is
derived from EXACT decimal sums cast to double at the very end — the same
IEEE operations on the same operands in Spark and DuckDB, so the driver's
value-hash comparison stays deterministic (see queries.py conventions).

Reference parity note: the reference engine exposes plain SQL over
Postgres (/root/reference/schema.sql) — AVG/STDDEV/NTILE/window functions
come with it for free; these operators re-express that statistical surface
Spark-first, plus the scale-path forms (two-phase global rank instead of a
one-task global window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fstore_sql_spark.queries import CUTOFF, QUERIES, load, query  # noqa: F401


from fstore_sql_spark.queries import _dec  # noqa: E402 — one definition


# --------------------------------------------------------------------- #
# Equi-depth histogram: two-phase global NTILE
# --------------------------------------------------------------------- #


def global_ntile(
    df: DataFrame, value_col: str, tiebreak_col: str, k: int, bucket_width: float
) -> DataFrame:
    """NTILE(k) over a global (value, tiebreak) order WITHOUT a one-task
    global window.

    Two-phase (same trick as ``sampling.deterministic_shuffle``):
      1. order-preserving range buckets ``_b = floor(value / bucket_width)``
         (monotone in the sort key, so bucket order == value order),
      2. per-bucket ranks (parallel windows),
      3. broadcast cumulative bucket counts → global rank, then the exact
         NTILE split: with N rows the first N mod k tiles get one extra row.

    The result is row-for-row identical to ``NTILE(k) OVER (ORDER BY
    value, tiebreak)``, which is exactly what the oracle runs.
    """
    keyed = df.withColumn(
        "_b", F.floor(F.col(value_col) / F.lit(bucket_width)).cast("long")
    )
    w = Window.partitionBy("_b").orderBy(value_col, tiebreak_col)
    ranked = keyed.withColumn("_r", F.row_number().over(w))
    off_w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    counts = keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off")
    )
    total = counts.agg(F.sum("_n").alias("_total"))
    ranked = (
        ranked.join(F.broadcast(offsets), "_b")
        .crossJoin(F.broadcast(total))
        .withColumn("_rank", F.col("_off") + F.col("_r"))
    )
    # NTILE split: q = N div k, m = N mod k; tiles 1..m have q+1 rows.
    # Integer `div` throughout — double `/` + cast truncates wrongly when
    # the quotient is an exact integer one ulp below itself.
    ranked = ranked.withColumn("_q", F.expr(f"_total div {k}")).withColumn(
        "_m", F.col("_total") % k
    )
    big = F.col("_m") * (F.col("_q") + 1)  # rows covered by the fat tiles
    tile = F.when(
        F.col("_rank") <= big, F.expr("(_rank - 1) div (_q + 1)") + 1
    ).otherwise(F.col("_m") + F.expr("(_rank - _m * (_q + 1) - 1) div _q") + 1)
    return ranked.withColumn("bucket", tile.cast("int")).drop(
        "_b", "_r", "_off", "_total", "_q", "_m", "_rank"
    )


@query(
    "equi_depth_histogram",
    """
    WITH t AS (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM t GROUP BY 1
    """,
)
def equi_depth_histogram(spark, sf_dir):
    """Equi-depth (10-quantile) histogram of order totals.  The oracle's
    single global NTILE window is the semantics; the Spark plan is the
    two-phase range-bucketed form that stays parallel at any scale."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tiled = global_ntile(o, "o_totalprice", "o_orderkey", k=10, bucket_width=10_000.0)
    return tiled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# --------------------------------------------------------------------- #
# Z-score anomaly detection
# --------------------------------------------------------------------- #


@query(
    "zscore_outlier_counts",
    """
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(18,6))
                        * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT event_type, n_events,
               sx / n_events AS mean_value,
               sqrt(GREATEST(sxx / n_events
                             - (sx / n_events) * (sx / n_events), 0))
                   AS stddev_value
        FROM s
    )
    SELECT e.event_type, ANY_VALUE(m.n_events) AS n_events,
           ANY_VALUE(m.mean_value) AS mean_value,
           ANY_VALUE(m.stddev_value) AS stddev_value,
           CAST(COUNT(*) FILTER (WHERE abs(e.value - m.mean_value)
                                       > 3 * m.stddev_value) AS BIGINT)
               AS n_outliers
    FROM events e JOIN m USING (event_type)
    GROUP BY 1
    """,
)
def zscore_outlier_counts(spark, sf_dir):
    """Per-type 3-sigma outlier detection: one aggregate pass for the
    moments (exact decimal sums → deterministic doubles), broadcast the
    tiny per-type stats back over the fact, count |z| > 3.  Population
    (not sample) variance, computed as E[x²]−E[x]² from the exact sums —
    both engines run the identical IEEE expression."""
    e = load(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value", 6)).cast("double").alias("sx"),
        F.sum(_dec("value", 6) * _dec("value", 6)).cast("double").alias("sxx"),
    )
    m = s.select(
        "event_type",
        "n_events",
        (F.col("sx") / F.col("n_events")).alias("mean_value"),
        # GREATEST(...,0) on both engines: cancellation in
        # E[x2]-E[x]2 can go to -1e-21 for constant-value groups —
        # Spark sqrt(neg) silently NaNs every z-comparison while DuckDB
        # sqrt(neg) hard-errors the oracle
        F.sqrt(
            F.greatest(
                F.col("sxx") / F.col("n_events")
                - (F.col("sx") / F.col("n_events"))
                * (F.col("sx") / F.col("n_events")),
                F.lit(0.0),
            )
        ).alias("stddev_value"),
    )
    return (
        e.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("n_events").alias("n_events"),
            F.any_value("mean_value").alias("mean_value"),
            F.any_value("stddev_value").alias("stddev_value"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("mean_value"))
                    > 3 * F.col("stddev_value"),
                    1,
                )
            ).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------- #
# Pearson correlation from exact sums
# --------------------------------------------------------------------- #


@query(
    "corr_quantity_price",
    """
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n_items,
           (n * sxy - sx * sy)
             / NULLIF(sqrt(GREATEST((n * sxx - sx * sx)
                                    * (n * syy - sy * sy), 0)), 0)
               AS corr_qty_price
    FROM s
    """,
)
def corr_quantity_price(spark, sf_dir):
    """Per-flag Pearson correlation of quantity vs extended price, computed
    from exact decimal co-moments (the distributive form — one map-side
    combinable aggregate; the builtin ``corr`` streams doubles in partition
    order and is NOT cross-engine deterministic)."""
    li = load(spark, sf_dir, "lineitem")
    qd, pd_ = _dec("l_quantity"), _dec("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(pd_).cast("double").alias("sy"),
        F.sum(qd * qd).cast("double").alias("sxx"),
        F.sum(pd_ * pd_).cast("double").alias("syy"),
        F.sum(qd * pd_).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    # GREATEST + try_divide: a constant-x group makes the
    # variance product 0 (ANSI divide-by-zero aborts the job) or, via
    # cancellation, slightly negative (sqrt NaN vs DuckDB hard error)
    den = F.sqrt(
        F.greatest(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
            F.lit(0.0),
        )
    )
    return s.select(
        "l_returnflag", "n_items",
        F.try_divide(num, F.nullif(den, F.lit(0.0))).alias("corr_qty_price"),
    )


# --------------------------------------------------------------------- #
# Cross-source distribution comparison
# --------------------------------------------------------------------- #


@query(
    "source_vocab_overlap",
    """
    WITH v AS (
        SELECT DISTINCT source, w.word
        FROM documents, UNNEST(string_split(text, ' ')) AS w(word)
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM v a JOIN v b ON a.word = b.word AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.n_common,
           CAST(i.n_common AS DOUBLE)
             / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def source_vocab_overlap(spark, sf_dir):
    """Vocabulary Jaccard similarity between every pair of corpus sources —
    the 'is this source just a re-crawl of that one?' detector.

    The oracle's DISTINCT + self-join is the semantics; the Spark plan
    shuffles the token stream ONCE: group by word collecting the sorted
    source-set (dedup happens inside collect_set), then intersections fall
    out of exploding each word's source-pair combinations and sizes out of
    exploding the sets — both downstream aggregates run on the word-level
    aggregate, never re-deriving the token stream.  A word's source-set is
    bounded by |sources| (~20), so the pair expansion is ≤ C(20,2) per
    word.  Jaccard from exact bigint counts → deterministic doubles."""
    d = load(spark, sf_dir, "documents")
    tokens = d.select("source", F.explode(F.split("text", " ")).alias("word"))
    by_word = tokens.groupBy("word").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    # all ordered pairs (a < b holds because srcs is sorted ascending)
    pairs = F.flatten(
        F.transform(
            "srcs",
            lambda a, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size("srcs")),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    inter = (
        by_word.select(F.explode(pairs).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = (
        by_word.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb")))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


@query(
    "lang_entropy_by_source",
    """
    WITH c AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    ),
    t AS (SELECT source, SUM(cnt) AS total FROM c GROUP BY 1)
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(SUM(CAST(ROUND(
                   -(CAST(c.cnt AS DOUBLE) / t.total)
                     * log2(CAST(c.cnt AS DOUBLE) / t.total), 9)
               AS DECIMAL(20,9))) AS DOUBLE) AS entropy_bits
    FROM c JOIN t USING (source)
    GROUP BY 1
    """,
)
def lang_entropy_by_source(spark, sf_dir):
    """Shannon entropy (bits) of each source's language distribution — the
    diversity probe.  Each term −p·log2(p) comes from exact counts (one
    deterministic double expression per (source, lang)), is rounded and
    summed as DECIMAL so the cross-row summation is order-independent —
    double summation order is the classic cross-engine hash breaker."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    # per-source total via a window over the tiny (source, lang) aggregate
    # — no second derivation of c, no join (the oracle's CTE+join form is
    # the same relation).
    total_w = Window.partitionBy("source")
    c = c.withColumn("total", F.sum("cnt").over(total_w))
    p = F.col("cnt").cast("double") / F.col("total")
    term = F.round(-p * F.log2(p), 9).cast("decimal(20,9)")
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(term).cast("double").alias("entropy_bits"),
    )


# --------------------------------------------------------------------- #
# Partial-reaggregation rollup (hourly → daily)
# --------------------------------------------------------------------- #


@query(
    "two_level_rollup_reuse",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS rev_h,
               CAST(COUNT(*) AS BIGINT) AS n_h
        FROM events GROUP BY 1
    )
    SELECT CAST(date_trunc('day', hour) AS DATE) AS day,
           CAST(SUM(rev_h) AS DOUBLE) AS day_revenue,
           CAST(SUM(n_h) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_hours
    FROM hourly GROUP BY 1
    """,
)
def two_level_rollup_reuse(spark, sf_dir):
    """Continuous-aggregate pattern (the hypertable rollup): the DAILY
    series is re-aggregated from persisted HOURLY partials instead of the
    raw events — decimal partial sums re-aggregate exactly, which is what
    makes the materialized-rollup hierarchy sound.  At 100 TB the hourly
    table is ~4 orders of magnitude smaller than the log; every coarser
    resolution reads partials, never raw events."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.sum(_dec("value")).cast("decimal(38,2)").alias("rev_h"),
        F.count(F.lit(1)).alias("n_h"),
    )
    return hourly.groupBy(F.to_date("hour").alias("day")).agg(
        F.sum("rev_h").cast("double").alias("day_revenue"),
        F.sum("n_h").alias("n_events"),
        F.count(F.lit(1)).alias("n_hours"),
    )


# --------------------------------------------------------------------- #
# Direction-change (trend reversal) counting
# --------------------------------------------------------------------- #


@query(
    "value_direction_changes",
    """
    WITH d0 AS (
        SELECT user_id, ts, event_id,
               sign(value - lag(value) OVER w) AS dir
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    d AS (
        SELECT user_id, dir,
               lag(dir) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_dir
        FROM d0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE dir * prev_dir = -1) AS BIGINT)
               AS n_reversals
    FROM d GROUP BY 1
    """,
)
def value_direction_changes(spark, sf_dir):
    """Per-user trend reversals: sign of consecutive value deltas via LAG,
    reversal = strict sign flip.  One shuffle (the per-user window); the
    count aggregation reuses the window's partitioning, so no second
    exchange."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.withColumn("dir", F.signum(F.col("value") - F.lag("value").over(w)))
    d = d.withColumn("prev_dir", F.lag("dir").over(w))
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("dir") * F.col("prev_dir") == -1, 1)).alias(
            "n_reversals"
        ),
    )


# --------------------------------------------------------------------- #
# Robust dispersion: median absolute deviation
# --------------------------------------------------------------------- #


@query(
    "mad_quantity",
    """
    WITH med AS (
        SELECT l_returnflag,
               CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median_qty
        FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           ANY_VALUE(m.median_qty) AS median_qty,
           CAST(quantile_cont(abs(l.l_quantity - m.median_qty), 0.5) AS DOUBLE)
               AS mad_qty
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY 1
    """,
)
def mad_quantity(spark, sf_dir):
    """Median absolute deviation — the robust sigma for outlier gates on
    heavy-tailed columns (where `zscore_outlier_counts`'s mean/stddev get
    dragged by the tail).  Two aggregate passes with a broadcast of the
    tiny per-group medians between them; deviations of integral values
    interpolate to exact binary fractions, so cross-engine hashes agree."""
    li = load(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.any_value("median_qty").alias("median_qty"),
            F.percentile(
                F.abs(F.col("l_quantity") - F.col("median_qty")), F.lit(0.5)
            ).alias("mad_qty"),
        )
    )


# --------------------------------------------------------------------- #
# Array higher-order functions over embeddings
# --------------------------------------------------------------------- #


@query(
    "embedding_norm_stats",
    """
    WITH n AS (
        SELECT label,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(ROUND(l2, 9) AS DECIMAL(20,9))) AS DOUBLE)
             / COUNT(*) AS avg_l2_norm,
           MIN(l2) AS min_l2_norm,
           MAX(l2) AS max_l2_norm
    FROM n GROUP BY 1
    """,
)
def embedding_norm_stats(spark, sf_dir):
    """Per-label embedding L2-norm profile — the 'are these vectors
    normalized?' sanity probe every similarity pipeline needs before
    trusting cosine scores.  The norm is a zero-shuffle higher-order fold
    (`transform` + `aggregate`, JVM-side, no UDF); both engines fold the
    array sequentially so the double sums agree bit-for-bit; the cross-ROW
    average goes through the round-to-decimal pattern (row order is NOT
    deterministic, decimal addition is order-free)."""
    e = load(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = e.select("label", F.sqrt(sq_sum).alias("l2"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.sum(F.round("l2", 9).cast("decimal(20,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_l2_norm"),
        F.min("l2").alias("min_l2_norm"),
        F.max("l2").alias("max_l2_norm"),
    )


# --------------------------------------------------------------------- #
# Grouped linear regression from exact co-moments
# --------------------------------------------------------------------- #


@query(
    "regr_price_on_quantity",
    """
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n_items,
           (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) AS slope,
           (sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx) / n
               AS intercept
    FROM s
    """,
)
def regr_price_on_quantity(spark, sf_dir):
    """Per-group least-squares fit (REGR_SLOPE / REGR_INTERCEPT) from the
    same exact decimal co-moments as `corr_quantity_price` — one map-side
    combinable aggregate, deterministic doubles at the end.  The builtins
    stream doubles in partition order; this form is engine-order-free."""
    li = load(spark, sf_dir, "lineitem")
    qd, pd_ = _dec("l_quantity"), _dec("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(pd_).cast("double").alias("sy"),
        F.sum(qd * qd).cast("double").alias("sxx"),
        F.sum(qd * pd_).cast("double").alias("sxy"),
    )
    # NULLIF denominator: a constant-quantity group has
    # n*sxx - sx*sx exactly 0 — ANSI division would abort the job
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.nullif(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
        ),
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "l_returnflag",
        "n_items",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


# --------------------------------------------------------------------- #
# Time-weighted average (hypertable analytics)
# --------------------------------------------------------------------- #


@query(
    "time_weighted_value",
    """
    WITH d AS (
        SELECT user_id,
               -- width 24 forces int128 multiplication in DuckDB (the
               -- 18-digit path overflows int64); the VALUE is identical
               CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(24,6)) AS v,
               CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) - epoch_us(ts)
                    AS DECIMAL(14,0)) AS dt_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(dt_us) AS BIGINT) AS n_intervals,
           CAST(SUM(v * dt_us) AS DOUBLE)
             / NULLIF(CAST(SUM(dt_us) AS DOUBLE), 0)
               AS twa_value
    FROM d WHERE dt_us IS NOT NULL
    GROUP BY 1
    """,
)
def time_weighted_value(spark, sf_dir):
    """Time-weighted average — the irregular-time-series mean (plain AVG
    over-weights bursts; TWA weights each reading by how long it was
    current).  Interval lengths come from LEAD over the per-user order;
    value × duration products and their sums stay in exact decimal
    (microsecond durations as DECIMAL(14,0) keep the product inside
    38 digits), so the single final double division is deterministic.
    One shuffle: the window and the aggregation share the user_id hash
    partitioning."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id",
        _dec("value", 6).alias("v"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts"))
        .cast("decimal(14,0)")
        .alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    return d.groupBy("user_id").agg(
        F.count("dt_us").alias("n_intervals"),
        # try_divide: a user whose events all share one
        # microsecond makes SUM(dt_us)=0 — under ANSI a plain division
        # aborts the whole job for one degenerate user; NULL matches the
        # DuckDB oracle's NULLIF
        F.try_divide(
            F.sum(F.col("v") * F.col("dt_us")).cast("double"),
            F.nullif(F.sum("dt_us").cast("double"), F.lit(0.0)),
        ).alias("twa_value"),
    )


# --------------------------------------------------------------------- #
# Table profiling (data-quality summary, one row per column)
# --------------------------------------------------------------------- #


@query(
    "profile_documents_columns",
    """
    SELECT 'doc_id' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(doc_id) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(COUNT(*) AS BIGINT), CAST(COUNT(lang) AS BIGINT),
           CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'source', CAST(COUNT(*) AS BIGINT), CAST(COUNT(source) AS BIGINT),
           CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'text', CAST(COUNT(*) AS BIGINT), CAST(COUNT(text) AS BIGINT),
           CAST(COUNT(DISTINCT text) AS BIGINT) FROM documents
    """,
)
def profile_documents_columns(spark, sf_dir):
    """Column profile (the ANALYZE/data-quality summary): row count,
    non-null count and exact distinct count per column, as a long-form
    table.  The Spark plan computes ALL columns' statistics in a single
    expand-based aggregate pass (one scan), then melts — the oracle's
    4-scan UNION ALL states the semantics.  For 100 TB profiling you
    would swap n_distinct to approx_count_distinct; the exact form here
    is what makes the oracle gate exact."""
    d = load(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "text"]
    agg = d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.count_distinct(c).alias(f"nd_{c}") for c in cols],
    )
    per_col = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"nn_{c}").alias("n_nonnull"),
            F.col(f"nd_{c}").alias("n_distinct"),
        )
        for c in cols
    ]
    return agg.select(F.explode(F.array(*per_col)).alias("p")).select(
        "p.column_name", "p.n_rows", "p.n_nonnull", "p.n_distinct"
    )


# --------------------------------------------------------------------- #
# Order-independent table checksum (migration verification)
# --------------------------------------------------------------------- #


@query(
    "events_content_checksum",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substr(md5(
                    concat_ws('|', CAST(event_id AS VARCHAR),
                              CAST(epoch_us(ts) AS VARCHAR),
                              CAST(user_id AS VARCHAR), event_type)),
                    1, 12)) AS BIGINT)) AS DECIMAL(38,0)) AS checksum
    FROM events
    """,
)
def events_content_checksum(spark, sf_dir):
    """Order-independent content checksum of the events table — the
    'did the migration copy every row byte-for-byte?' verifier this whole
    repo's oracle gate is built on, exposed as an operator.  Each row
    hashes a canonical '|'-joined rendering (md5 prefix → 48-bit int);
    SUM over exact decimals is commutative, so any partitioning/engine
    computing the same row set yields the same checksum.  One combinable
    aggregate: at 100 TB this is a pure map-side scan + tiny reduce."""
    e = load(spark, sf_dir, "events")
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.unix_micros("ts").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
    )
    row_hash = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
    return e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("checksum"),
    )


# --------------------------------------------------------------------- #
# Cross-table reconciliation audit
# --------------------------------------------------------------------- #


@query(
    "order_lineitem_reconciliation",
    """
    WITH li AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
                   AS items_total
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE items_total IS NULL) AS BIGINT)
               AS n_no_items,
           CAST(COUNT(*) FILTER (WHERE items_total IS NOT NULL
                 AND abs(CAST(o_totalprice AS DECIMAL(18,2)) - items_total)
                     <= CAST(o_totalprice AS DECIMAL(18,2)) * 0.5)
               AS BIGINT) AS n_within_50pct,
           CAST(SUM(abs(CAST(o_totalprice AS DECIMAL(18,2))
                        - COALESCE(items_total, 0))) AS DOUBLE)
               AS total_abs_drift
    FROM orders LEFT JOIN li ON o_orderkey = l_orderkey
    """,
)
def order_lineitem_reconciliation(spark, sf_dir):
    """Cross-table financial reconciliation — does the order header total
    agree with the sum of its line items?  The classic pipeline-integrity
    audit (double-entry check) as one aggregate: per-order item totals in
    exact decimal, left join preserving headerless orders, drift measured
    in decimal and surfaced as counts + total absolute drift.  Both sides
    shuffle once on the order key."""
    o = load(spark, sf_dir, "orders")
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(_dec("l_extendedprice")).cast("decimal(38,2)").alias("items_total"))
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    tp = _dec("o_totalprice")
    has_items = F.col("items_total").isNotNull()
    within = has_items & (
        F.abs(tp - F.col("items_total")) <= tp * F.lit(0.5).cast("decimal(2,1)")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(~has_items, 1)).alias("n_no_items"),
        F.count(F.when(within, 1)).alias("n_within_50pct"),
        F.sum(F.abs(tp - F.coalesce(F.col("items_total"), F.lit(0).cast("decimal(38,2)"))))
        .cast("double")
        .alias("total_abs_drift"),
    )


# --------------------------------------------------------------------- #
# Distribution drift (total variation distance)
# --------------------------------------------------------------------- #


@query(
    "event_type_drift_tvd",
    f"""
    WITH h AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (WHERE ts <  TIMESTAMP '{CUTOFF}')
                    AS DOUBLE) AS c1,
               CAST(COUNT(*) FILTER (WHERE ts >= TIMESTAMP '{CUTOFF}')
                    AS DOUBLE) AS c2
        FROM events GROUP BY 1
    ),
    t AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM h)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           0.5 * CAST(SUM(CAST(ROUND(abs(h.c1 / t.n1 - h.c2 / t.n2), 12)
                    AS DECIMAL(20,12))) AS DOUBLE) AS tvd
    FROM h CROSS JOIN t
    """,
)
def event_type_drift_tvd(spark, sf_dir):
    """Distribution drift between time halves as total variation distance
    0.5·Σ|p₁−p₂| — the 'did the event mix shift?' monitor every training
    snapshot pipeline runs before accepting new data.  One conditional
    aggregate builds both histograms in a single scan; per-type terms are
    decimal-rounded before the cross-row sum (order-free)."""
    e = load(spark, sf_dir, "events")
    cutoff = F.lit(CUTOFF).cast("timestamp")
    h = e.groupBy("event_type").agg(
        F.count(F.when(F.col("ts") < cutoff, 1)).cast("double").alias("c1"),
        F.count(F.when(F.col("ts") >= cutoff, 1)).cast("double").alias("c2"),
    )
    h = h.withColumn("n1", F.sum("c1").over(Window.partitionBy())).withColumn(
        "n2", F.sum("c2").over(Window.partitionBy())
    )
    term = F.round(
        F.abs(F.col("c1") / F.col("n1") - F.col("c2") / F.col("n2")), 12
    ).cast("decimal(20,12)")
    return h.agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.lit(0.5) * F.sum(term).cast("double")).alias("tvd"),
    )


# --------------------------------------------------------------------- #
# Join-key skew diagnosis
# --------------------------------------------------------------------- #


@query(
    "join_key_skew_report",
    """
    WITH per_key AS (
        SELECT user_id, COUNT(*) AS n_events
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT SUM(n_events) AS total_events, COUNT(*) AS n_keys FROM per_key
    )
    SELECT p.user_id, CAST(p.n_events AS BIGINT) AS n_events,
           CAST(p.n_events AS DOUBLE) / CAST(t.total_events AS DOUBLE) AS share,
           CAST(p.n_events * t.n_keys AS DOUBLE) / CAST(t.total_events AS DOUBLE)
               AS skew_ratio
    FROM per_key p CROSS JOIN tot t
    ORDER BY p.n_events DESC, p.user_id ASC
    LIMIT 10
    """,
)
def join_key_skew_report(spark, sf_dir):
    """Hot-key report for a join/partition key — the diagnosis step before
    choosing salting or AQE skew splitting (operators/skew.py is the cure).
    skew_ratio is key_count / mean_count: ~1 means uniform, ≫1 means this
    key alone stalls a reducer at scale.  Shape: one hash aggregate on the
    key, a 1-row global rollup broadcast back, then top-10 — the report
    costs one shuffle regardless of table size, and every ratio is a
    single double division of exact integers (hash-stable cross-engine)."""
    per_key = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = per_key.agg(
        F.sum("n_events").alias("total_events"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            (F.col("n_events").cast("double") / F.col("total_events").cast("double"))
                .alias("share"),
            ((F.col("n_events") * F.col("n_keys")).cast("double")
             / F.col("total_events").cast("double")).alias("skew_ratio"),
        )
        .orderBy(F.col("n_events").desc(), F.col("user_id").asc())
        .limit(10)
    )


# --------------------------------------------------------------------- #
# Winsorized (clipped) robust mean
# --------------------------------------------------------------------- #


@query(
    "winsorized_value_stats",
    """
    WITH q AS (
        SELECT event_type,
               CAST(ROUND(quantile_cont(value, 0.05), 6) AS DOUBLE) AS p05,
               CAST(ROUND(quantile_cont(value, 0.95), 6) AS DOUBLE) AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(q.p05) AS p05,
           MAX(q.p95) AS p95,
           CAST(SUM(CAST(LEAST(GREATEST(e.value, q.p05), q.p95)
                         AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS winsorized_mean,
           CAST(COUNT(*) FILTER (WHERE e.value < q.p05) AS BIGINT)
               AS n_clipped_low,
           CAST(COUNT(*) FILTER (WHERE e.value > q.p95) AS BIGINT)
               AS n_clipped_high
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
)
def winsorized_value_stats(spark, sf_dir):
    """Winsorized mean — clip to [p05, p95] before averaging, the robust
    alternative to dropping outliers (every row still counts, extremes just
    stop dominating).  Two passes sharing the event_type hash partitioning:
    exact interpolated percentiles per group, broadcast back (5 rows), then
    one clipped-sum aggregate.  Clipped values go through DECIMAL(18,6) so
    the cross-row sum is order-free; the final mean is one double division
    (queries.py determinism conventions).

    The thresholds are ROUNDED to 6dp before clipping/counting: the two
    engines' percentile interpolation can differ by an ULP, and comparing
    data against a knife-edge double threshold flips boundary rows — at
    sf1 (values replicated ~10x) that showed up as count diffs."""
    e = load(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("p05"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("p05").alias("p05"),
            F.max("p95").alias("p95"),
            (
                F.sum(clipped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("winsorized_mean"),
            F.count(F.when(F.col("value") < F.col("p05"), 1)).alias("n_clipped_low"),
            F.count(F.when(F.col("value") > F.col("p95"), 1)).alias("n_clipped_high"),
        )
    )


# --------------------------------------------------------------------- #
# Rolling window median (order-statistic over a trailing band)
# --------------------------------------------------------------------- #


@query(
    "rolling_7d_median_revenue",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT a.d AS order_date,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(quantile_cont(CAST(b.rev AS DOUBLE), 0.5) AS DOUBLE)
               AS med7_revenue
    FROM daily a
    JOIN daily b ON b.d BETWEEN a.d - INTERVAL 6 DAY AND a.d
    GROUP BY a.d
    """,
)
def rolling_7d_median_revenue(spark, sf_dir):
    """Trailing-7-day MEDIAN of daily revenue — a rolling order-statistic,
    which no engine's window frame computes directly (frames support
    sum/avg; medians need the band-join form).  Phase 1 collapses the fact
    table to one exact-decimal row per day; phase 2 is a broadcast
    interval self-join over that tiny spine (≤ |days|·7 rows) + exact
    interpolated percentile per day.  At 100 TB only phase 1 touches the
    fact table — one map-side-combinable shuffle; the band join never
    sees raw rows.  Days with gaps shrink the window (observation-based,
    not calendar-filled: n_days reports the actual support)."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(_dec("o_totalprice")).alias("rev")
    )
    a = daily.select(F.col("d").alias("order_date"))
    b = daily.select(F.col("d").alias("bd"), F.col("rev").cast("double").alias("brev"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("bd") >= F.date_sub(F.col("order_date"), 6))
            & (F.col("bd") <= F.col("order_date")),
        )
        .groupBy("order_date")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.percentile("brev", F.lit(0.5)).alias("med7_revenue"),
        )
    )


# --------------------------------------------------------------------- #
# Inter-event gap histogram (log-scale via digit count — float-free)
# --------------------------------------------------------------------- #


@query(
    "interevent_gap_histogram",
    """
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(CASE WHEN gap_us = 0 THEN 0
                     ELSE length(CAST(gap_us AS VARCHAR)) END AS BIGINT)
               AS gap_digits,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY 1, 2
    """,
)
def interevent_gap_histogram(spark, sf_dir):
    """Order-of-magnitude histogram of gaps between consecutive same-type
    events per user — the burstiness profile (sub-second retry storms vs
    hour-scale organic traffic land in different buckets).  The log₁₀
    bucket is the DIGIT COUNT of the microsecond gap: pure integer
    arithmetic, immune to the last-ulp differences that make
    floor(log10(x)) flap across engines at exact powers of ten.  One
    window + one aggregate sharing the (user, type) hash partitioning."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    bucket = F.when(F.col("gap_us") == 0, F.lit(0)).otherwise(
        F.length(F.col("gap_us").cast("string"))
    )
    return gaps.groupBy(
        "event_type", bucket.cast("long").alias("gap_digits")
    ).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


# --------------------------------------------------------------------- #
# Boolean aggregate profile (bool_or / every / count_if)
# --------------------------------------------------------------------- #


@query(
    "user_event_flags",
    """
    SELECT user_id,
           bool_or(event_type = 'purchase') AS has_purchase,
           bool_and(value >= 0) AS all_nonnegative,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
               AS n_errors,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def user_event_flags(spark, sf_dir):
    """Per-user boolean/conditional aggregate profile (BOOL_OR / EVERY /
    FILTER / COUNT DISTINCT in one pass) — the segmentation predicate
    table feeding audience queries.  Single hash aggregate; the distinct
    count expands to a two-phase partial internally but still one shuffle
    on the group key."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.bool_or(F.col("event_type") == "purchase").alias("has_purchase"),
            F.every(F.col("value") >= 0).alias("all_nonnegative"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
            F.count_distinct("event_type").alias("n_types"),
        )
    )


# --------------------------------------------------------------------- #
# Approximate percentiles (sketch family, alongside exact percentile)
# --------------------------------------------------------------------- #


@query(
    "approx_value_percentiles",
    """
    SELECT event_type,
           ROUND(CAST(quantile_cont(value, 0.5)  AS DOUBLE), 6) AS p50_exact,
           ROUND(CAST(quantile_cont(value, 0.9)  AS DOUBLE), 6) AS p90_exact,
           ROUND(CAST(quantile_cont(value, 0.99) AS DOUBLE), 6) AS p99_exact,
           true AS within_tol
    FROM events GROUP BY event_type
    """,
)
def approx_value_percentiles(spark, sf_dir):
    """Per-type APPROX percentiles (GK sketch via approx_percentile,
    accuracy 10000) — the constant-memory path for 100 TB where exact
    per-group sort-based percentiles would shuffle the world.  Sketches
    merge associatively (map-side partials), so cost is one small shuffle
    of sketch state.  Sketch values are engine-specific, so the oracle is
    INEQUALITY-style: exact percentiles are verified
    value-for-value cross-engine (6dp-rounded both engines),
    and the sketch is gated by a +-1%%-rank window folded into
    ``within_tol``."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").alias("ap"),
        F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("ep"),
        # rank-window bounds for the sketch gate: exact percentiles at
        # q-0.01 and q+0.01.  A GK sketch guarantees RANK error (<=
        # n/accuracy ranks), not value error — on a small or heavy-tailed
        # group the nearest SAMPLE to the target rank can be far in value
        # while 0 ranks off (observed: 25%% at n~190), so a relative
        # value bound is scale-UNSTABLE.  The +-1%%-rank window holds for
        # any n >= 100 at accuracy 10000 and tightens nothing at 100 TB.
        F.expr(
            "percentile(value, array(0.49, 0.51, 0.89, 0.91, 0.98, 1.0))"
        ).alias("rw"),
    )

    def near(i: int):
        return (F.col("ap")[i] >= F.col("rw")[2 * i] - F.lit(1e-9)) & (
            F.col("ap")[i] <= F.col("rw")[2 * i + 1] + F.lit(1e-9)
        )

    # 6dp rounding on BOTH engines: linear-interpolation
    # percentiles differ by an ULP across engines on knife-edge ranks,
    # which the 9dp value-hash does not absorb; matches the
    # winsorized_value_stats convention.
    return g.select(
        "event_type",
        F.round(F.col("ep")[0], 6).alias("p50_exact"),
        F.round(F.col("ep")[1], 6).alias("p90_exact"),
        F.round(F.col("ep")[2], 6).alias("p99_exact"),
        (near(0) & near(1) & near(2)).alias("within_tol"),
    )


# --------------------------------------------------------------------- #
# Running distinct count (first-occurrence flag + cumulative sum)
# --------------------------------------------------------------------- #


@query(
    "running_distinct_types",
    """
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_distinct_so_far
    FROM flagged
    """,
)
def running_distinct_types(spark, sf_dir):
    """Cumulative DISTINCT count over time — COUNT(DISTINCT) is not a
    window function in any engine, but it decomposes exactly: flag each
    row that is the FIRST occurrence of its (user, type), then a running
    SUM of flags.  Both windows hash-partition on user_id, so the whole
    query is ONE shuffle; no quadratic re-scan per row, no state blowup —
    the per-user discovery-curve query that feature stores run at 100 TB.

    The explicit repartition on user_id alone is what makes it one
    shuffle: HashPartitioning(user_id) satisfies BOTH windows' clustered
    distributions ((user_id, event_type) ⊇ user_id), whereas letting the
    first window partition on its full key would force a second exchange
    for the per-user running sum."""
    e = load(spark, sf_dir, "events").repartition("user_id")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "user_id", "event_id", "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
    )
    return flagged.select(
        "user_id", "event_id",
        F.sum("first_seen").over(w_run).cast("long").alias("n_distinct_so_far"),
    )


# --------------------------------------------------------------------- #
# Two-feature OLS via normal equations (closed-form, exact co-moments)
# --------------------------------------------------------------------- #


@query(
    "ols_price_model",
    """
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,4))
                        * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,4))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y
        FROM lineitem
    )
    SELECT n_rows,
           ROUND(((s11 * s22 - s12 * s12) * sy + (s2 * s12 - s1 * s22) * s1y
            + (s1 * s12 - s2 * s11) * s2y)
           / NULLIF((s11 * s22 - s12 * s12) * n + (s2 * s12 - s1 * s22) * s1
              + (s1 * s12 - s2 * s11) * s2, 0), 6) AS beta0,
           ROUND(((s2 * s12 - s1 * s22) * sy + (n * s22 - s2 * s2) * s1y
            + (s1 * s2 - n * s12) * s2y)
           / NULLIF((s11 * s22 - s12 * s12) * n + (s2 * s12 - s1 * s22) * s1
              + (s1 * s12 - s2 * s11) * s2, 0), 6) AS beta1,
           ROUND(((s1 * s12 - s2 * s11) * sy + (s1 * s2 - n * s12) * s1y
            + (n * s11 - s1 * s1) * s2y)
           / NULLIF((s11 * s22 - s12 * s12) * n + (s2 * s12 - s1 * s22) * s1
              + (s1 * s12 - s2 * s11) * s2, 0), 6) AS beta2
    FROM s
    """,
)
def ols_price_model(spark, sf_dir):
    """Multi-feature linear regression WITHOUT MLlib iteration: the 2-
    feature OLS fit (price ~ quantity + discount) in closed form from the
    normal equations — one pass of exact-decimal co-moments (map-side
    combinable, one tiny shuffle), then the 3×3 solve via the adjugate on
    the driver-free single result row.  This is how a 100 TB fit actually
    runs: sufficient statistics, not gradient passes over the data.  Every
    double term is the same IEEE expression in Spark and DuckDB (identical
    operand order), so the driver hash agrees bit-for-bit."""
    li = load(spark, sf_dir, "lineitem")
    q_, d_, y_ = _dec("l_quantity"), _dec("l_discount", 4), _dec("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(q_).cast("double").alias("s1"),
        F.sum(d_).cast("double").alias("s2"),
        F.sum(y_).cast("double").alias("sy"),
        F.sum(q_ * q_).cast("double").alias("s11"),
        F.sum(q_ * d_).cast("double").alias("s12"),
        F.sum(d_ * d_).cast("double").alias("s22"),
        F.sum(q_ * y_).cast("double").alias("s1y"),
        F.sum(d_ * y_).cast("double").alias("s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    sy, s11, s12 = F.col("sy"), F.col("s11"), F.col("s12")
    s22, s1y, s2y = F.col("s22"), F.col("s1y"), F.col("s2y")
    # adjugate cofactors of [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] — written
    # in the exact operand order the oracle uses (IEEE determinism).
    c00 = s11 * s22 - s12 * s12
    c01 = s2 * s12 - s1 * s22
    c02 = s1 * s12 - s2 * s11
    c11 = n * s22 - s2 * s2
    c12 = s1 * s2 - n * s12
    c22 = n * s11 - s1 * s1
    # NULLIF det: collinear features make det exactly 0 —
    # ANSI division aborts; NULL betas match the oracle's NULLIF
    det = F.nullif(c00 * n + c01 * s1 + c02 * s2, F.lit(0.0))
    # ROUND(β, 6) on BOTH sides (r10, the sf10 correctness decade): the
    # co-moments are exact decimals, but once a sum's unscaled value
    # exceeds 2^53 the decimal→double conversion itself rounds, and the
    # two engines land ±1 ULP apart — at 60M rows the betas differed in
    # the 10th significant digit and straddled canon()'s 9-dp rounding.
    # Six decimals of a regression coefficient is the meaningful part;
    # the gate stops being luck-based above ~10M rows.
    return s.select(
        "n_rows",
        F.round(F.try_divide(c00 * sy + c01 * s1y + c02 * s2y, det), 6).alias("beta0"),
        F.round(F.try_divide(c01 * sy + c11 * s1y + c12 * s2y, det), 6).alias("beta1"),
        F.round(F.try_divide(c02 * sy + c12 * s1y + c22 * s2y, det), 6).alias("beta2"),
    )


# --------------------------------------------------------------------- #
# SCD2 interval derivation + point-in-time state (bitemporal read)
# --------------------------------------------------------------------- #


@query(
    "scd2_state_at_cutoff",
    f"""
    WITH intervals AS (
        SELECT user_id, event_type,
               ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM events
    ),
    state AS (
        SELECT user_id, event_type, valid_from
        FROM intervals
        WHERE valid_from <= TIMESTAMP '{CUTOFF}'
          AND (valid_to IS NULL OR valid_to > TIMESTAMP '{CUTOFF}')
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           MIN(valid_from) AS earliest_from,
           MAX(valid_from) AS latest_from
    FROM state GROUP BY event_type
    """,
)
def scd2_state_at_cutoff(spark, sf_dir):
    """SCD-type-2 from an event log: each user's stream becomes validity
    intervals [ts, next ts) via LEAD, and a point-in-time read selects the
    one interval containing the cutoff — the warehouse pattern for 'what
    was every entity's state at T?' that the reference answers by replay
    (get_events + fold) and a dimension table answers by interval
    predicate.  The window and nothing else touches the log: one shuffle
    on user_id, then the interval filter reduces to ≤1 row per user before
    the tiny type rollup."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cut = F.lit(CUTOFF).cast("timestamp")
    intervals = e.select(
        "user_id", "event_type", F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    state = intervals.filter(
        (F.col("valid_from") <= cut)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > cut))
    )
    return state.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("valid_from").alias("earliest_from"),
        F.max("valid_from").alias("latest_from"),
    )


# --------------------------------------------------------------------- #
# Period-over-period growth (weekly revenue WoW)
# --------------------------------------------------------------------- #


@query(
    "weekly_revenue_growth",
    """
    WITH weekly AS (
        SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT week_start,
           CAST(rev AS DOUBLE) AS revenue,
           (CAST(rev AS DOUBLE)
            - CAST(lag(rev) OVER (ORDER BY week_start) AS DOUBLE))
           / CAST(lag(rev) OVER (ORDER BY week_start) AS DOUBLE)
               AS wow_growth
    FROM weekly
    """,
)
def weekly_revenue_growth(spark, sf_dir):
    """Week-over-week growth — the period-over-period reporting shape.
    The fact table collapses to an exact-decimal weekly spine first (one
    combinable shuffle); LAG then runs over the ~340-row spine, where a
    single-partition window is the RIGHT plan (the data is already tiny —
    pushing the window below the rollup would be the scale bug, not
    this).  Growth is one double subtraction/division of identical
    operands on both engines."""
    o = load(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week_start")
    ).agg(F.sum(_dec("o_totalprice")).alias("rev"))
    w = Window.orderBy("week_start")
    rev_d = F.col("rev").cast("double")
    prev_d = F.lag("rev").over(w).cast("double")
    return weekly.select(
        "week_start",
        rev_d.alias("revenue"),
        ((rev_d - prev_d) / prev_d).alias("wow_growth"),
    )


# --------------------------------------------------------------------- #
# Snapshot diff (CDC-style audit between two points in time)
# --------------------------------------------------------------------- #


# first-snapshot cutoff shared by the Spark plan and the oracle (ONE
# definition: a hardcoded pair could silently drift)
_DIFF_CUTOFF = "2024-01-03 00:00:00"


@query(
    "snapshot_diff_users",
    f"""
    WITH t1 AS (
        SELECT user_id, event_type, COUNT(*) AS n_events
        FROM events WHERE ts <= TIMESTAMP '{_DIFF_CUTOFF}'
        GROUP BY user_id, event_type
    ),
    t2 AS (
        SELECT user_id, event_type, COUNT(*) AS n_events
        FROM events GROUP BY user_id, event_type
    )
    SELECT CASE
             WHEN t1.user_id IS NULL THEN 'added'
             WHEN t2.user_id IS NULL THEN 'removed'
             WHEN t1.n_events = t2.n_events THEN 'unchanged'
             ELSE 'changed'
           END AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM t1 FULL OUTER JOIN t2
      ON t1.user_id = t2.user_id AND t1.event_type = t2.event_type
    GROUP BY 1
    """,
)
def snapshot_diff_users(spark, sf_dir):
    """CDC-style snapshot diff: aggregate the same per-key state at two
    points in time (here: the event log at CUTOFF vs now, keyed by
    user × event type) and classify every key added / removed / changed /
    unchanged via one full outer join — the audit a migration or backfill
    runs to prove what it touched.  Both states hash-partition on the same
    keys, so the join aligns without a third shuffle; the classification
    rollup is a ≤4-row result.  (On an append-only log 'removed' is
    structurally empty, so the informative split here is added vs
    changed — the operator itself classifies all four; the early Jan-03
    cutoff is what leaves some keys unseen in the first snapshot.)"""
    e = load(spark, sf_dir, "events")
    cut = F.lit(_DIFF_CUTOFF).cast("timestamp")

    def state(df):
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events")
        )

    t1 = state(e.filter(F.col("ts") <= cut)).select(
        F.col("user_id").alias("u1"), F.col("event_type").alias("ty1"),
        F.col("n_events").alias("ne1"),
    )
    t2 = state(e).select(
        F.col("user_id").alias("u2"), F.col("event_type").alias("ty2"),
        F.col("n_events").alias("ne2"),
    )
    j = t1.join(
        t2, (F.col("u1") == F.col("u2")) & (F.col("ty1") == F.col("ty2")),
        "full_outer",
    )
    change = (
        F.when(F.col("u1").isNull(), "added")
        .when(F.col("u2").isNull(), "removed")
        .when(F.col("ne1") == F.col("ne2"), "unchanged")
        .otherwise("changed")
    )
    return j.groupBy(change.alias("change_type")).agg(
        F.count(F.lit(1)).alias("n_keys")
    )


# --------------------------------------------------------------------- #
# Per-source decile profile (within-group NTILE)
# --------------------------------------------------------------------- #


@query(
    "source_decile_profile",
    """
    WITH ranked AS (
        SELECT source, n_chars,
               NTILE(10) OVER (PARTITION BY source
                               ORDER BY n_chars NULLS LAST, doc_id) AS decile
        FROM documents
    )
    SELECT source, CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_chars
    FROM ranked GROUP BY source, decile
    """,
)
def source_decile_profile(spark, sf_dir):
    """Within-source decile profile of document length — the quantile-
    normalization table curation uses to compare length distributions
    across heterogeneous sources on a common rank scale.  NTILE partitions
    BY SOURCE (each source's window fits its partition — the global-NTILE
    two-phase form in `equi_depth_histogram` is for un-partitioned ranks);
    the rollup's keys are a superset of the window key, so the whole query
    is one shuffle."""
    d = load(spark, sf_dir, "documents")
    # NULLS LAST pinned on both sides (r10, adversarial fixture): Spark's
    # ascending default is NULLS FIRST, DuckDB's is NULLS LAST, so docs
    # with NULL n_chars silently landed in opposite deciles.
    w = Window.partitionBy("source").orderBy(
        F.asc_nulls_last("n_chars"), "doc_id"
    )
    ranked = d.select(
        "source", "n_chars", F.ntile(10).over(w).alias("decile")
    )
    return ranked.groupBy("source", F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_chars"),
    )


# --------------------------------------------------------------------- #
# Window distribution family (cume_dist / nth_value / last_value frame)
# --------------------------------------------------------------------- #


@query(
    "window_distribution_family",
    """
    SELECT o_orderkey, o_custkey,
           CAST(cume_dist() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey)
               AS DOUBLE) AS cdist,
           nth_value(o_orderkey, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_orderkey,
           last_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_orderkey
    FROM orders WHERE o_custkey < 200
    """,
)
def window_distribution_family(spark, sf_dir):
    """The distribution half of the window family (complements
    `window_function_family`): CUME_DIST, NTH_VALUE and LAST_VALUE with
    the full-partition frame — the frame spec matters (default frames
    stop at CURRENT ROW, the classic last_value bug); all three share one
    sort inside one hash partitioning."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select(
            "o_orderkey",
            "o_custkey",
            F.cume_dist().over(w).alias("cdist"),
            F.nth_value("o_orderkey", 2).over(wf).alias("second_orderkey"),
            F.last("o_orderkey").over(wf).alias("last_orderkey"),
        )
    )


# --------------------------------------------------------------------- #
# Regex scalar-function family
# --------------------------------------------------------------------- #


@query(
    "regex_function_showcase",
    """
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, 'scan'))) AS BIGINT)
               AS n_scan_hits,
           CAST(SUM(CASE WHEN regexp_matches(text, 'join.*join')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_double_join,
           CAST(SUM(len(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT)
               AS total_consonant_chars,
           CAST(SUM(CASE WHEN regexp_extract(text, '^(\\w+)', 1) = 'the'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_the_start
    FROM documents GROUP BY source
    """,
)
def regex_function_showcase(spark, sf_dir):
    """The regexp scalar family (count / boolean match / global replace /
    group extract) — all four run scan-side inside whole-stage codegen
    (JVM regex, not Python), aggregated to exact integers per source.
    Pattern dialect is kept to the RE2 ∩ java.util.regex common subset so
    Spark and DuckDB agree."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.regexp_count("text", F.lit("scan"))).alias("n_scan_hits"),
        F.sum(
            F.when(F.col("text").rlike("join.*join"), 1).otherwise(0)
        ).alias("n_double_join"),
        F.sum(
            F.length(F.regexp_replace("text", "[aeiou]", ""))
        ).alias("total_consonant_chars"),
        F.sum(
            F.when(F.regexp_extract("text", r"^(\w+)", 1) == "the", 1).otherwise(0)
        ).alias("n_the_start"),
    )


# --------------------------------------------------------------------- #
# Weighted median (cumulative-weight crossing, exact)
# --------------------------------------------------------------------- #


@query(
    "weighted_median_price",
    """
    WITH w AS (
        SELECT l_returnflag,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
               CAST(l_quantity AS DECIMAL(18,2)) AS wt,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)), l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cum_wt,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag) AS tot_wt
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(MIN(price) AS DOUBLE) AS weighted_median_price,
           CAST(MAX(tot_wt) AS DOUBLE) AS total_weight
    FROM w
    WHERE cum_wt * 2 >= tot_wt
    GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark, sf_dir):
    """Weight-aware median — the 50%-of-total-WEIGHT crossing point
    (here: price weighted by quantity), which plain PERCENTILE_CONT
    cannot express.  Running and total weight sums stay in exact decimal,
    the crossing test is integer-exact (cum*2 ≥ tot), and the answer is
    the MIN price past the crossing — all deterministic, no
    interpolation.  Both windows and the final aggregate share the
    returnflag hash partitioning: one shuffle."""
    li = load(spark, sf_dir, "lineitem")
    price, wt = _dec("l_extendedprice"), _dec("l_quantity")
    wo = Window.partitionBy("l_returnflag").orderBy(
        "price", "l_orderkey", "l_linenumber"
    )
    wp = Window.partitionBy("l_returnflag")
    w = li.select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        price.alias("price"), wt.alias("wt"),
    ).select(
        "l_returnflag", "price",
        F.sum("wt").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_wt"),
        F.sum("wt").over(wp).alias("tot_wt"),
    )
    return (
        w.filter(F.col("cum_wt") * 2 >= F.col("tot_wt"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").cast("double").alias("weighted_median_price"),
            F.max("tot_wt").cast("double").alias("total_weight"),
        )
    )


# --------------------------------------------------------------------- #
# Association mining: event-type co-occurrence lift
# --------------------------------------------------------------------- #


@query(
    "event_type_lift",
    """
    WITH baskets AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
    supp AS (
        SELECT event_type, COUNT(*) AS n_type FROM baskets GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           CAST(p.n_both * n.n AS DOUBLE)
               / CAST(sa.n_type * sb.n_type AS DOUBLE) AS lift
    FROM pairs p
    JOIN supp sa ON sa.event_type = p.type_a
    JOIN supp sb ON sb.event_type = p.type_b
    CROSS JOIN n_users n
    """,
)
def event_type_lift(spark, sf_dir):
    """Market-basket lift over (user → event-type) baskets: how much more
    often two behaviors co-occur than independence predicts (lift =
    P(a,b)/P(a)P(b)).  NO self-join: each user's distinct type-set is
    collected ONCE (bounded by the type vocabulary), and co-occurrence
    pairs explode locally out of that array — the same pair multiset the
    oracle's basket self-join produces, at one fact shuffle instead of
    three plus a join whose hot-user cost the array form caps by
    construction.  All probabilities reduce to one double division of
    exact integer products."""
    e = load(spark, sf_dir, "events")
    sets = e.groupBy("user_id").agg(F.collect_set("event_type").alias("types"))
    n_users = sets.agg(F.count(F.lit(1)).alias("n"))
    supp = (
        sets.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_type"))
    )
    pairs = (
        sets.select(F.explode("types").alias("type_a"), "types")
        .select("type_a", F.explode("types").alias("type_b"))
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = supp.select(F.col("event_type").alias("type_a"), F.col("n_type").alias("na"))
    sb = supp.select(F.col("event_type").alias("type_b"), F.col("n_type").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a", "type_b", "n_both",
            (
                (F.col("n_both") * F.col("n")).cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------- #
# Chi-square test of independence (lang × source)
# --------------------------------------------------------------------- #


@query(
    "chi2_lang_source",
    """
    WITH cells AS (
        SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ),
    rows_ AS (SELECT lang, SUM(n) AS r FROM cells GROUP BY 1),
    cols_ AS (SELECT source, SUM(n) AS c FROM cells GROUP BY 1),
    tot AS (SELECT SUM(n) AS big_n FROM cells),
    terms AS (
        SELECT cells.lang, cells.source,
               CAST(CAST(CAST(cells.n AS DECIMAL(38,0)) * t.big_n
                         - CAST(r.r AS DECIMAL(38,0)) * c.c AS DOUBLE)
                    * CAST(CAST(cells.n AS DECIMAL(38,0)) * t.big_n
                           - CAST(r.r AS DECIMAL(38,0)) * c.c AS DOUBLE)
                    AS DOUBLE)
                   / CAST(CAST(r.r AS DECIMAL(38,0)) * c.c * t.big_n
                          AS DOUBLE) AS term
        FROM cells
        JOIN rows_ r ON r.lang = cells.lang
        JOIN cols_ c ON c.source = cells.source
        CROSS JOIN tot t
    )
    SELECT CAST(SUM(CAST(ROUND(term, 9) AS DECIMAL(20,9))) AS DOUBLE)
               AS chi2,
           CAST((SELECT COUNT(DISTINCT lang) FROM documents) - 1 AS BIGINT)
               * CAST((SELECT COUNT(DISTINCT source) FROM documents) - 1
                      AS BIGINT) AS dof,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
    FROM terms
    """,
)
def chi2_lang_source(spark, sf_dir):
    """Pearson chi-square test of independence between two categorical
    columns — the statistical upgrade of ``lang_source_mutual_info``.
    Each cell term is ((n·N − r·c)²)/(r·c·N): an exact int128 DECIMAL
    numerator over an exact BIGINT denominator, ONE double division per
    cell, then the round-to-decimal order-free summation.  The
    contingency table is a tiny aggregate, so row/column marginals come
    from windows over it — one shuffle total."""
    d = load(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    cells = (
        cells.withColumn("r", F.sum("n").over(Window.partitionBy("lang")))
        .withColumn("c", F.sum("n").over(Window.partitionBy("source")))
        .withColumn("big_n", F.sum("n").over(Window.partitionBy()))
    )
    # factors cast to DECIMAL(38,0) BEFORE multiplying: at
    # ~2e10 documents the int64 products r*c and n*big_n overflow and
    # ANSI aborts — exactly the scale the docstring targets.  The diff
    # collapses to double immediately after (it is divided by a double
    # anyway), matching the oracle's operand order.
    n38 = F.col("n").cast("decimal(38,0)")
    r38 = F.col("r").cast("decimal(38,0)")
    diff = (n38 * F.col("big_n") - r38 * F.col("c")).cast("double")
    term = (diff * diff).cast("double") / (
        r38 * F.col("c") * F.col("big_n")
    ).cast("double")
    n_langs = F.size(F.collect_set("lang").over(Window.partitionBy()))
    n_sources = F.size(F.collect_set("source").over(Window.partitionBy()))
    return (
        cells.withColumn("n_l", n_langs)
        .withColumn("n_s", n_sources)
        .groupBy()
        .agg(
            F.sum(F.round(term, 9).cast("decimal(20,9)"))
            .cast("double")
            .alias("chi2"),
            (
                (F.max("n_l") - F.lit(1)).cast("long")
                * (F.max("n_s") - F.lit(1)).cast("long")
            ).alias("dof"),
            F.max("big_n").cast("long").alias("n_docs"),
        )
    )


# --------------------------------------------------------------------- #
# Benford first-digit profile (fraud/quality screening)
# --------------------------------------------------------------------- #


@query(
    "benford_price_digits",
    """
    WITH digits AS (
        SELECT SUBSTR(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS
                           VARCHAR), 1, 1) AS first_digit
        FROM lineitem
    ),
    valid AS (
        SELECT first_digit FROM digits
        WHERE first_digit BETWEEN '1' AND '9'
    ),
    counted AS (
        SELECT first_digit, COUNT(*) AS n FROM valid GROUP BY 1
    )
    SELECT first_digit,
           CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share,
           LOG10(1.0 + 1.0 / CAST(first_digit AS DOUBLE)) AS benford_p
    FROM counted
    """,
)
def benford_price_digits(spark, sf_dir):
    """Benford's-law first-digit screen over a monetary column — the
    classic anomaly probe for fabricated or truncated numeric data.  The
    digit is taken from the DECIMAL(18,2) string rendering (deterministic
    in both engines, no float log/pow at the boundary); observed share is
    one double division of exact counts, and the Benford expectation
    log10(1 + 1/d) is a per-row double expression on the same operand."""
    li = load(spark, sf_dir, "lineitem")
    digits = li.select(
        F.substring(_dec("l_extendedprice").cast("string"), 1, 1).alias(
            "first_digit"
        )
    )
    # '1'..'9' only: a value in (0,1) renders '0.xx' and a
    # negative renders '-...' — digit '0' makes 1/d an ANSI
    # divide-by-zero (job abort) and '-' an ANSI cast error; Benford's
    # law is undefined for both anyway, so both engines drop them
    digits = digits.filter(F.col("first_digit").between("1", "9"))
    counted = digits.groupBy("first_digit").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy())
    return counted.select(
        "first_digit",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / tot.cast("double")).alias("share"),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("first_digit").cast("double"))
        .alias("benford_p"),
    )


# --------------------------------------------------------------------- #
# Gini coefficient of revenue concentration per nation
# --------------------------------------------------------------------- #


@query(
    "gini_revenue_by_nation",
    """
    WITH cust_rev AS (
        SELECT c.c_nationkey, c.c_custkey,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT c_nationkey, rev,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY rev, c_custkey) AS i
        FROM cust_rev
    ),
    g AS (
        SELECT c_nationkey,
               COUNT(*) AS n_cust,
               SUM(rev) AS s,
               SUM(CAST(i AS DECIMAL(10,0)) * rev) AS s1
        FROM ranked GROUP BY 1
    )
    SELECT n.n_name,
           CAST(n_cust AS BIGINT) AS n_customers,
           CAST(s AS DOUBLE) AS total_revenue,
           CAST(2 * s1 - (n_cust + 1) * s AS DOUBLE)
               / CAST(n_cust * s AS DOUBLE) AS gini
    FROM g JOIN nation n ON n.n_nationkey = g.c_nationkey
    """,
)
def gini_revenue_by_nation(spark, sf_dir):
    """Gini coefficient of customer-revenue concentration within each
    nation — inequality profiling via the rank formula
    G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) on ascending-sorted exact decimal
    revenues (custkey tie-break ⇒ deterministic under ties).  Per-nation
    windows parallelize across nations; numerator and denominator stay
    decimal-exact with ONE final double division.  Customers without
    orders are out of frame (inner join)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    cust_rev = (
        o.join(c.select("c_custkey", "c_nationkey"), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum(_dec("o_totalprice")).alias("rev"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("rev", "c_custkey")
    ranked = cust_rev.withColumn("i", F.row_number().over(w))
    g = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("rev").alias("s"),
        F.sum(F.col("i").cast("decimal(10,0)") * F.col("rev")).alias("s1"),
    )
    return g.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        g.c_nationkey == F.col("n_nationkey"),
    ).select(
        "n_name",
        F.col("n_cust").cast("long").alias("n_customers"),
        F.col("s").cast("double").alias("total_revenue"),
        (
            (F.lit(2) * F.col("s1") - (F.col("n_cust") + F.lit(1)) * F.col("s"))
            .cast("double")
            / (F.col("n_cust") * F.col("s")).cast("double")
        ).alias("gini"),
    )


# --------------------------------------------------------------------- #
# Data-quality assertion suite (dbt-tests / Great-Expectations shape)
# --------------------------------------------------------------------- #


@query(
    "dq_assertion_suite",
    """
    WITH o AS (
        SELECT COUNT(*) AS total,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_dup,
               SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
               SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                        THEN 1 ELSE 0 END) AS bad_status
        FROM orders
    ),
    li AS (
        SELECT COUNT(*) AS total,
               COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS pk_dup,
               SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
                        THEN 1 ELSE 0 END) AS bad_qty,
               SUM(CASE WHEN l_discount NOT BETWEEN 0 AND 1
                        THEN 1 ELSE 0 END) AS bad_disc
        FROM lineitem
    ),
    fk1 AS (
        SELECT COUNT(*) AS v FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    ),
    fk2 AS (
        SELECT COUNT(*) AS v FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT check_name, CAST(violations AS BIGINT) AS violations,
           CAST(total AS BIGINT) AS total,
           CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS passed
    FROM (
        SELECT 'orders_pk_unique' AS check_name, pk_dup AS violations,
               total FROM o
        UNION ALL
        SELECT 'orders_totalprice_positive', bad_price, total FROM o
        UNION ALL
        SELECT 'orders_status_domain', bad_status, total FROM o
        UNION ALL
        SELECT 'lineitem_pk_unique', pk_dup, total FROM li
        UNION ALL
        SELECT 'lineitem_quantity_range', bad_qty, total FROM li
        UNION ALL
        SELECT 'lineitem_discount_range', bad_disc, total FROM li
        UNION ALL
        SELECT 'orders_custkey_fk', fk1.v, o.total FROM fk1, o
        UNION ALL
        SELECT 'lineitem_orderkey_fk', fk2.v, li.total FROM fk2, li
    )
    """,
)
def dq_assertion_suite(spark, sf_dir):
    """Declarative data-quality assertions (the dbt-tests /
    Great-Expectations contract): PK uniqueness, value domains, range
    checks and referential integrity, emitted as one long-form
    (check, violations, total, passed) report.  All row-level checks for
    a table fuse into ONE conditional-aggregate scan; FK checks are
    anti-joins (broadcast when the dimension is small); at 100 TB the
    suite costs two fact scans plus two hash joins — no per-check
    re-scan."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")

    def row(name, viol, total):
        return F.struct(
            F.lit(name).alias("check_name"),
            viol.cast("long").alias("violations"),
            total.cast("long").alias("total"),
        )

    o_stats = o.agg(
        F.count(F.lit(1)).alias("total"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("pk_dup"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "bad_price"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("bad_status"),
    )
    o_agg = o_stats.select(
        F.explode(
            F.array(
                row("orders_pk_unique", F.col("pk_dup"), F.col("total")),
                row("orders_totalprice_positive", F.col("bad_price"), F.col("total")),
                row("orders_status_domain", F.col("bad_status"), F.col("total")),
            )
        ).alias("chk")
    )
    li_stats = li.agg(
        F.count(F.lit(1)).alias("total"),
        (
            F.count(F.lit(1)) - F.count_distinct("l_orderkey", "l_linenumber")
        ).alias("pk_dup"),
        F.sum(
            F.when(~F.col("l_quantity").between(1, 50), 1).otherwise(0)
        ).alias("bad_qty"),
        F.sum(
            F.when(~F.col("l_discount").between(0, 1), 1).otherwise(0)
        ).alias("bad_disc"),
    )
    li_agg = li_stats.select(
        F.explode(
            F.array(
                row("lineitem_pk_unique", F.col("pk_dup"), F.col("total")),
                row("lineitem_quantity_range", F.col("bad_qty"), F.col("total")),
                row("lineitem_discount_range", F.col("bad_disc"), F.col("total")),
            )
        ).alias("chk")
    )
    fk1 = (
        o.join(F.broadcast(c.select("c_custkey")), o.o_custkey == c.c_custkey,
               "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
        # reuse the fused aggregate's total: a separate
        # o.agg(count) was a THIRD full scan of orders — identical
        # subtrees let AQE reuse o_stats's exchange instead
        .crossJoin(o_stats.select("total"))
        .select(row("orders_custkey_fk", F.col("v"), F.col("total")).alias("chk"))
    )
    fk2 = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey,
                "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
        .crossJoin(li_stats.select("total"))
        .select(row("lineitem_orderkey_fk", F.col("v"), F.col("total")).alias("chk"))
    )
    return (
        o_agg.unionByName(li_agg)
        .unionByName(fk1)
        .unionByName(fk2)
        .select("chk.*")
        .withColumn(
            "passed",
            F.when(F.col("violations") == 0, 1).otherwise(0).cast("long"),
        )
    )


# --------------------------------------------------------------------- #
# Lag-1 autocorrelation of the daily revenue series
# --------------------------------------------------------------------- #


@query(
    "autocorr_daily_revenue",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT rev AS y,
               LAG(rev) OVER (ORDER BY d) AS x
        FROM daily
    ),
    pairs AS (SELECT x, y FROM lagged WHERE x IS NOT NULL),
    m AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                  * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) AS autocorr_lag1
    FROM m
    """,
)
def autocorr_daily_revenue(spark, sf_dir):
    """Lag-1 autocorrelation of daily revenue — is today's revenue
    predictive of tomorrow's?  The daily series is an exact decimal
    aggregate, LAG pairs it with itself shifted by one day, and Pearson's
    r comes from the same exact co-moment formula as
    ``corr_quantity_price``: decimal sums all the way, one final double
    expression (sqrt is IEEE-correctly-rounded, so it is cross-engine
    deterministic).  The single-task global LAG window is over the tiny
    daily aggregate, not the fact table."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(_dec("o_totalprice")).alias("rev")
    )
    lagged = daily.select(
        F.col("rev").alias("y"),
        F.lag("rev").over(Window.orderBy("d")).alias("x"),
    ).filter(F.col("x").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        F.col("n").cast("long").alias("n_pairs"),
        (num / (dx * dy)).alias("autocorr_lag1"),
    )
