"""Deterministic sampling & dataset-mixing operators.

Training-data pipelines need samples that are REPRODUCIBLE across runs,
engines and cluster sizes — `df.sample()` is none of those (partition-
dependent RNG).  Everything here derives the sampling decision from a
content hash of the row's id: the same row lands on the same side of every
split on every engine, which also makes the operators exactly verifiable
against the DuckDB oracle.

``_hash_frac`` maps an id to a uniform [0,1) fraction via the first 8 hex
digits of md5 — identical arithmetic in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fstore_sql_spark.queries import hash32, hash32_sql, load, query

_DENOM = float(16**8)  # 8 hex digits


def _hash_frac(col: Column | str) -> Column:
    """Uniform [0,1) fraction from a content hash of the id column."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("double")
        / F.lit(_DENOM)
    )


def _hash_frac_sql(expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8)) AS BIGINT)"
        f" / {_DENOM!r}"
    )


def deterministic_sample(df: DataFrame, id_col: str, rate: float) -> DataFrame:
    """Keep ~rate of rows, chosen by id hash — stable under re-runs,
    repartitioning, and engine changes (unlike ``df.sample``)."""
    return df.filter(_hash_frac(id_col) < rate)


def train_test_split(
    df: DataFrame, id_col: str, test_rate: float = 0.1
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive, reproducible split: (train, test)."""
    frac = _hash_frac(id_col)
    return df.filter(frac >= test_rate), df.filter(frac < test_rate)


def weighted_mix(sources: list[tuple[DataFrame, str, float]], id_col: str) -> DataFrame:
    """Mix datasets at given rates: each (df, label, rate) contributes a
    deterministic ~rate sample tagged with its source label — the dataset-
    interleaving step of a pretraining mixture."""
    parts = [
        deterministic_sample(df, id_col, rate).withColumn("mix_source", F.lit(label))
        for df, label, rate in sources
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "sample_deterministic_counts",
    f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM({hash32_sql("CAST(doc_id AS VARCHAR)")}) AS BIGINT)
               AS id_digest
    FROM documents
    WHERE {_hash_frac_sql("doc_id")} < 0.1
    GROUP BY lang
    """,
)
def sample_deterministic_counts(spark, sf_dir):
    """~10% deterministic sample of documents, counted per language —
    bit-identical membership in Spark and DuckDB."""
    d = load(spark, sf_dir, "documents")
    return (
        deterministic_sample(d, "doc_id", 0.1)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            # membership digest: pins WHICH ids were
            # sampled, not just how many per stratum
            F.sum(hash32(F.col("doc_id").cast("string"))).alias("id_digest"),
        )
    )


@query(
    "train_test_split_counts",
    f"""
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM({hash32_sql("CAST(doc_id AS VARCHAR)")}) AS BIGINT)
               AS id_digest
    FROM (
        SELECT CASE WHEN {_hash_frac_sql("doc_id")} < 0.2 THEN 'test'
                    ELSE 'train' END AS split, n_chars, doc_id
        FROM documents
    ) GROUP BY split
    """,
)
def train_test_split_counts(spark, sf_dir):
    """80/20 content-hash split: disjoint + exhaustive by construction;
    the oracle checks the exact same membership."""
    d = load(spark, sf_dir, "documents")
    train, test = train_test_split(d, "doc_id", test_rate=0.2)
    return (
        train.withColumn("split", F.lit("train"))
        .unionByName(test.withColumn("split", F.lit("test")))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            # membership digest
            F.sum(hash32(F.col("doc_id").cast("string"))).alias("id_digest"),
        )
    )


@query(
    "weighted_mix_counts",
    f"""
    SELECT mix_source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({hash32_sql("CAST(doc_id AS VARCHAR)")}) AS BIGINT)
               AS id_digest
    FROM (
        SELECT 'web' AS mix_source, doc_id FROM documents
        WHERE source IN ('src0', 'src1', 'src2') AND {_hash_frac_sql("doc_id")} < 0.5
        UNION ALL
        SELECT 'curated', doc_id FROM documents
        WHERE source NOT IN ('src0', 'src1', 'src2') AND {_hash_frac_sql("doc_id")} < 0.9
    ) GROUP BY mix_source
    """,
)
def weighted_mix_counts(spark, sf_dir):
    """Pretraining-mixture shape: three sources sampled at 50%, the rest
    at 90%, interleaved with a source tag."""
    d = load(spark, sf_dir, "documents")
    web = d.filter(F.col("source").isin("src0", "src1", "src2"))
    curated = d.filter(~F.col("source").isin("src0", "src1", "src2"))
    mixed = weighted_mix(
        [(web, "web", 0.5), (curated, "curated", 0.9)], id_col="doc_id"
    )
    return mixed.groupBy("mix_source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # membership digest
        F.sum(hash32(F.col("doc_id").cast("string"))).alias("id_digest"),
    )


def stratified_sample(df: DataFrame, strata_col: str, id_col: str, k: int) -> DataFrame:
    """Exactly-k-per-stratum sample, chosen by content-hash order — the
    class-balanced subset builder.  Deterministic across runs, engines and
    partitionings (vs ``sampleBy``'s partition-dependent RNG); one shuffle
    (the per-stratum window)."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def deterministic_shuffle(df: DataFrame, id_col: str, n_buckets: int = 256) -> DataFrame:
    """Global training-order shuffle with a total position column — the
    'shuffle the corpus before sharding' step.  A naive
    ``row_number() OVER (ORDER BY md5(id))`` funnels all rows through ONE
    partition; this is the two-phase scalable form:

      1. bucket rows by their hash prefix (hex order == md5 order),
      2. rank within each bucket (parallel windows),
      3. add broadcast cumulative bucket offsets (n_buckets tiny rows).

    Positions are identical to the naive global window, so the DuckDB
    oracle can use exactly that."""
    from pyspark.sql import Window

    hx = len(f"{n_buckets - 1:x}")  # hash-prefix chars needed for n_buckets
    keyed = df.withColumn("_k", F.md5(F.col(id_col).cast("string"))).withColumn(
        "_b", F.conv(F.substring("_k", 1, hx), 16, 10).cast("int")
    )
    w = Window.partitionBy("_b").orderBy("_k", id_col)
    ranked = keyed.withColumn("_r", F.row_number().over(w))
    off_w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("_b", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off"))
    )
    return (
        ranked.join(F.broadcast(offsets), "_b")
        .withColumn("pos", (F.col("_off") + F.col("_r")).cast("long"))
        .drop("_k", "_b", "_r", "_off")
    )


@query(
    "stratified_sample_by_lang",
    """
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents) WHERE rn <= 20
    """,
)
def stratified_sample_by_lang(spark, sf_dir):
    """Class-balanced sampling: exactly 20 docs per language, hash-chosen."""
    return stratified_sample(
        load(spark, sf_dir, "documents"), "lang", "doc_id", 20
    ).select("lang", "doc_id")


@query(
    "shuffle_positions",
    """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                AS BIGINT) AS pos
    FROM documents
    """,
)
def shuffle_positions(spark, sf_dir):
    """Deterministic global corpus shuffle — two-phase distributed rank
    (the oracle's single global window would not scale past one
    executor)."""
    return deterministic_shuffle(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "pos"
    )


def pack_positions(
    df: DataFrame, id_col: str, tokens: Column, bucket_width: int = 65536
) -> DataFrame:
    """Concat-and-chunk packing prelude: the exclusive running token total
    (``start``) over ``id_col`` order — each document's byte-offset into
    the virtual concatenated token stream that training chunks slice.

    A naive ``SUM(tokens) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING)``
    funnels the corpus through ONE task; this is the two-phase form
    (same trick as ``deterministic_shuffle``):

      1. order-preserving range buckets ``_b = id DIV bucket_width``,
      2. per-bucket exclusive cumsum (parallel windows, all keyed alike),
      3. broadcast cumulative bucket totals as offsets (N/width tiny rows).

    Positions equal the naive global window's, so the oracle uses that.
    """
    from pyspark.sql import Window

    keyed = df.select(
        F.col(id_col), tokens.cast("long").alias("_tok")
    ).withColumn("_b", F.expr(f"{id_col} DIV {bucket_width}"))
    w = (
        Window.partitionBy("_b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = keyed.withColumn("_local", F.coalesce(F.sum("_tok").over(w), F.lit(0)))
    off_w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("_b")
        .agg(F.sum("_tok").alias("_n"))
        .select("_b", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off"))
    )
    return (
        ranked.join(F.broadcast(offsets), "_b")
        .select(
            id_col,
            F.col("_tok").alias("n_tokens"),
            (F.col("_off") + F.col("_local")).cast("long").alias("start"),
        )
    )


@query(
    "packed_bin_stats",
    """
    WITH t AS (
        SELECT doc_id,
               len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                   AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        FROM t
    )
    SELECT CAST(start // 512 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT)) AS BIGINT) AS id_digest,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(COUNT(*) FILTER (WHERE n_tokens > 0
               AND start // 512 <> (start + n_tokens - 1) // 512) AS BIGINT)
               AS n_split_docs
    FROM c GROUP BY 1
    """,
)
def packed_bin_stats(spark, sf_dir):
    """Sequence packing for training (concat-and-chunk, 512-token chunks):
    every document gets its start offset in the concatenated token stream;
    chunk ``bin = start DIV 512``; per-bin doc/token counts plus how many
    documents straddle a chunk boundary (the attention-mask-contamination
    metric packing pipelines track).  The cumsum is the two-phase
    ``pack_positions`` — no single-task global window."""
    from fstore_sql_spark.operators.text import words_col

    d = load(spark, sf_dir, "documents")
    pos = pack_positions(d, "doc_id", F.size(words_col()))
    return (
        pos.withColumn("bin", F.expr("start DIV 512"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # membership digest: pins which docs
            # landed in each 512-token chunk, not just the counts
            F.sum(hash32(F.col("doc_id").cast("string"))).alias("id_digest"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.sum(
                F.when(
                    (F.col("n_tokens") > 0)
                    & (
                        F.expr("start DIV 512")
                        != F.expr("(start + n_tokens - 1) DIV 512")
                    ),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_split_docs"),
        )
    )


@query(
    "weighted_reservoir_sample",
    f"""
    SELECT doc_id, source, n_chars
    FROM (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (ORDER BY
                   CASE WHEN n_chars > 0
                        THEN -ln({_hash_frac_sql('doc_id')} + 1e-12) / n_chars
                        ELSE CAST('infinity' AS DOUBLE) END,
                   doc_id) AS rn
        FROM documents
    ) WHERE rn <= 25
    """,
)
def weighted_reservoir_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    key = -ln(u)/w with u a content-hash uniform — bigger documents are
    proportionally likelier, yet the draw is deterministic across runs,
    engines and partitionings (the property `df.sample` lacks).  Top-k by
    key is a TakeOrderedAndProject (per-partition heaps + driver merge of
    k·P rows), never a global sort."""
    d = load(spark, sf_dir, "documents")
    # weight ≤ 0 / NULL → +inf key, i.e. never sampled while any
    # positive-weight doc remains (r10, adversarial fixture: an empty doc
    # has n_chars 0, which was an ANSI divide-by-zero on Spark and an
    # engine-dependent ±inf/NULL sort on DuckDB; a NULL weight would
    # additionally hit the engines' opposite NULL-ordering defaults).
    key = F.when(
        F.col("n_chars") > 0,
        -F.log(_hash_frac("doc_id") + F.lit(1e-12)) / F.col("n_chars"),
    ).otherwise(F.lit(float("inf")))
    return (
        d.select("doc_id", "source", "n_chars", key.alias("_k"))
        .orderBy("_k", "doc_id")
        .limit(25)
        .drop("_k")
    )
