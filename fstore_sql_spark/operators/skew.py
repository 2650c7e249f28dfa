"""Skew mitigation: salted joins and two-phase top-k.

At 100 TB a handful of hot keys (one celebrity user, one default
decider_id) can put an entire shuffle partition on one executor.  AQE's
skew-join splitting (enabled in ``get_spark``) handles this *reactively*;
the operators here handle it *declaratively* when the skew is known ahead
of time — the standard salt-and-replicate construction:

- the probe (big, skewed) side gets a deterministic salt in [0, n)
- the build side is replicated n times, once per salt value
- the join key becomes (key, salt), splitting each hot key's rows across
  n shuffle partitions

Results are identical to the unsalted join (verified by the oracle gate —
``skew_salted_revenue`` matches a plain-join SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fstore_sql_spark.queries import _dec, load, query


def profile_frame(
    df: DataFrame,
    on: str,
    n_keys: int = 16,
    fraction: float = 0.02,
    seed: int = 9,
) -> DataFrame:
    """The profile step's DataFrame: top-``n_keys`` key histogram of a
    seeded ``fraction`` sample of ``df``, deterministic tie-break.

    Separate from :func:`profile_hot_keys` so ``tests/test_plans.py`` can
    pin its plan like every other stage: sampled scan →
    partial agg → one exchange → TakeOrderedAndProject(n_keys) — the
    sample is scan-side, the shuffle carries only the sampled (key, count)
    pairs, and the top-k never global-sorts."""
    return (
        df.sample(fraction=fraction, seed=seed)
        .groupBy(on)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col(on).asc())
        .limit(n_keys)
    )


def profile_hot_keys(
    df: DataFrame,
    on: str,
    n_keys: int = 16,
    fraction: float = 0.02,
    seed: int = 9,
    hot_rows_budget: int = 2_000_000,
) -> list:
    """Profile ``df[on]`` and return the keys that are ACTUALLY hot —
    empty when nothing qualifies (a profile that always nominated 16
    keys would make the flagship pay the two-branch plan on uniform data
    for a join with no skew, and would teach users to skip the decision
    a real mitigation starts with).

    The hotness verdict is the shuffle-task budget rule: a key is hot iff
    its estimated full-table row count (``n_sampled / fraction``) exceeds
    ``hot_rows_budget`` — the row count one shuffle task should
    comfortably hold (default 2M ≈ a 128-256 MB task at ~100 B/row; a
    key above it lands its whole group in ONE task of the unsalted join
    and dominates the stage).  A truly hot key appears thousands of
    times in a 2% sample, so the estimate's sampling error is a few
    percent right where the decision matters; keys near zero sampled
    count are never nominated.  Tune ``hot_rows_budget`` to the target
    task size; the result is CORRECT for any returned set (the oracle
    pins join equivalence for arbitrary hot lists), so a miscalibrated
    budget costs plan shape, never answers.
    """
    cut = hot_rows_budget * fraction
    return [
        r[on]
        for r in profile_frame(df, on, n_keys, fraction, seed).collect()
        if r["n"] > cut
    ]


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n: int = 8,
    how: str = "inner",
    salt_from: Column | None = None,
) -> DataFrame:
    """Equi-join ``left ⋈ right ON left[on] == right[on]`` with the left
    (probe/skewed) side salted across ``n`` sub-keys.

    ``salt_from`` picks the salt deterministically from left-side content
    (default: a hash of all left columns) — deterministic so task retries
    re-produce the same partitioning (F.rand would not).
    """
    if salt_from is None:
        salt_from = F.xxhash64(*[F.col(c) for c in left.columns])
    salted_left = left.withColumn("_salt", F.pmod(salt_from, F.lit(n)).cast("int"))
    replicated_right = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    )
    out = salted_left.join(replicated_right, [on, "_salt"], how)
    return out.drop("_salt")


def two_phase_topk(
    df: DataFrame, order_col: str, k: int, partition_col: str | None = None
) -> DataFrame:
    """Top-k without a single-reducer sort: per-shuffle-partition top-k
    first (mapPartitions-free — a partition-local window), then top-k of
    the ≤ k × n_partitions survivors.  For grouped top-k pass
    ``partition_col``; Spark's own TakeOrderedAndProject covers the global
    ungrouped case, so this exists for the grouped-skew shape."""
    from pyspark.sql import Window

    if partition_col is None:
        return df.orderBy(F.col(order_col).desc()).limit(k)
    w = Window.partitionBy(partition_col).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


@query(
    "skew_salted_revenue",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def skew_salted_revenue(spark, sf_dir):
    """The FULL-salt join, oracle-verified against the plain join:
    lineitem salted 8 ways against a fully-replicated orders projection.
    Correct but demonstrative-only since r9: replicating the entire
    build side n× wrote ~50 GB of shuffle at sf100 (the audit's one real
    plan finding), so the benched/recommended skew flagship is now
    ``skew_salted_hot_revenue`` — this stays oracle-gated as the
    equivalence fixture for the classic construction."""
    l = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(l, o, on="o_orderkey", n=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
    )

@query(
    "skew_salted_hot_revenue",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def skew_salted_hot_revenue(spark, sf_dir):
    """The RECOMMENDED skew pattern — profile, DECIDE, then salt only the keys that
    are actually hot.  Oracle-verified against the same plain-join SQL
    that pins ``skew_salted_revenue``: identical answers whatever the
    profile decides (empty hot set → the vanilla AQE-optimized join via
    ``salted_join_hot``'s short-circuit; non-empty → the two-branch
    targeted construction whose replicated side is n × |hot|, not
    n × |right|).

    Step 1 (:func:`profile_hot_keys`) histograms the probe side's keys
    on a seeded 2% SAMPLE (a truly hot key appears thousands of times in
    it; exact counts would cost a full-table shuffle just to pick ≤16
    keys) and applies the shuffle-task budget verdict: hot iff estimated
    rows-per-key > 2M.  TPC-H ``l_orderkey`` is near-uniform (≤7
    lineitems/order), so here the verdict is "no skew" at every gate
    decade and the flagship takes the single vanilla join — measured at
    ~zero overhead vs the plain join, while on genuinely skewed data the
    same recipe salts only the hot keys (the win + overhead table lives
    in BASELINE.md "skew decision rule + the first measured skew
    WIN")."""
    l = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hot = profile_hot_keys(l, on="o_orderkey")
    joined = salted_join_hot(l, o, on="o_orderkey", hot_keys=hot, n=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
    )


def salted_join_hot(
    left: DataFrame,
    right: DataFrame,
    on: str,
    hot_keys: "list",
    n: int = 8,
    how: str = "inner",
    salt_from: Column | None = None,
) -> DataFrame:
    """Hot-key-TARGETED salted join (r8, from the sf100 audit): identical
    results to ``left ⋈ right ON on``, but only rows whose key is in
    ``hot_keys`` pay the salt-and-replicate construction — the cold
    majority takes the plain equi-join.

    Why this exists: ``salted_join`` replicates the ENTIRE build side
    ``n``× (the classic demonstrative construction).  At sf100 that meant
    8 × 150M = 1.2B replicated orders rows and ~50 GB of shuffle write
    for a join whose keys weren't actually skewed — the right tool when
    skew is concentrated is to split ONLY the hot keys.  Here the
    replicated side is ``n × |hot ∩ right|`` rows (thousands, not
    billions), the hot filter is a broadcastable IN-list pushed to both
    scans, and the cold path is the vanilla join Catalyst/AQE already
    optimize.  ``inner``/``left`` joins split cleanly by left-key
    membership; other join types would double-count unmatched right rows
    across the two branches and are rejected.

    ``hot_keys`` is a driver-side list by design: hot keys come from a
    prior profiling aggregation (see ``join_key_skew_report``) and are
    few by definition — if the list were large, the skew wouldn't be
    skew.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join_hot supports inner/left joins, got {how!r}: "
            "an outer right side can't be split by left-key membership "
            "without double-counting unmatched rows"
        )
    if not hot_keys:
        return left.join(right, on, how)
    if salt_from is None:
        salt_from = F.xxhash64(*[F.col(c) for c in left.columns])
    is_hot = F.col(on).isin(list(hot_keys))
    # NULL join keys route to the COLD branch: for a
    # NULL key ``is_hot`` is NULL, so BOTH ``filter(is_hot)`` and
    # ``filter(~is_hot)`` would drop the row — a plain left join keeps
    # it with NULL right columns.  NULL never equi-joins, so the cold
    # branch's vanilla join reproduces the plain-join behavior exactly
    # (inner drops it, left preserves it unmatched).
    cold_left = left.filter(F.col(on).isNull() | ~is_hot)
    # the cold branch's right-side filter is an optimization, not a
    # semantic need: cold left keys can never equal hot right keys
    cold = cold_left.join(right.filter(~is_hot), on, how)
    salted_l = left.filter(is_hot).withColumn(
        "_salt", F.pmod(salt_from, F.lit(n)).cast("int")
    )
    rep_r = right.filter(is_hot).withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    )
    hot = salted_l.join(rep_r, [on, "_salt"], how).drop("_salt")
    return cold.unionByName(hot)
