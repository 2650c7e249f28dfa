"""Deduplication operators: exact, normalized, MinHash+LSH, n-gram Jaccard,
SimHash — each a composition of built-in DataFrame ops (no Python UDFs), so
the whole pipeline stays inside whole-stage codegen and scales by shuffle
parallelism alone.

Scale design (100 TB corpus):
- exact/normalized dedup: one hash-aggregate shuffle on the digest key
- MinHash+LSH: shingle explode → per-doc min-hash aggregate (map-side
  partial) → band self-join on the band key.  The self-join shuffles only
  (band, doc_id) pairs — |bands|·|docs| rows, not |docs|² — and skewed
  mega-buckets are handled by AQE skew-join splitting.
- Jaccard verification runs only on LSH candidates (bounded output).
- SimHash: explode tokens → 32 conditional-sum aggregates → one shuffle.

The driver-gate queries run on a corpus with planted duplicates
(documents ∪ first-25-docs re-keyed) so the positive path is exercised —
the raw synthetic corpus has no duplicates at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fstore_sql_spark.queries import load, query, spread

N_PLANTED = 25
_SHIFT = 100000

# --------------------------------------------------------------------- #
# generic operator API
# --------------------------------------------------------------------- #


def shingles_col(text_col: str = "text", n: int = 3):
    """Word n-gram shingles as an array column (built-in higher-order
    functions only).  Docs shorter than n words fall back to the whole text
    so every doc has a signature.

    Implementation note: the words array MUST be a named column before the
    transform lambda touches it — a `split()` expression referenced inside
    the lambda is inlined and re-evaluated per element, turning shingling
    into O(words²) per document (measured 5-20s on a 500-doc corpus; ~100ms
    with the materialized array)."""
    w = F.col("__words")
    idx = F.sequence(F.lit(0), F.size(w) - n)
    gram = F.transform(idx, lambda i: F.concat_ws(" ", w[i], w[i + 1], w[i + 2]))
    shingle = F.when(F.size(w) >= n, gram).otherwise(F.array(F.col(text_col)))
    return shingle


def with_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) exploded pairs, with the words array materialized once
    per row (see shingles_col note)."""
    return (
        df.withColumn("__words", F.split(F.col(text_col), " "))
        .select(id_col, F.explode(shingles_col(text_col)).alias("shingle"))
    )


def _shingles_sql(n: int = 3) -> str:
    return (
        "CASE WHEN len(string_split(text,' ')) >= 3 THEN "
        "list_transform(range(1, len(string_split(text,' '))-1), "
        "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
        "|| ' ' || string_split(text,' ')[i+2]) "
        "ELSE [text] END"
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", num_hashes: int = 4
) -> DataFrame:
    """Per-doc MinHash signature: h_k = MIN(md5(seed_k ‖ shingle)).

    md5-as-hash keeps the operator portable and deterministic; lexicographic
    MIN over fixed-width hex == numeric MIN.  One explode + one hash
    aggregate; partial aggregation means only |docs|·k values shuffle.
    """
    ex = with_shingles(df, id_col, text_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(k)), F.col("shingle")))).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 2, max_bucket: int = 1000
) -> DataFrame:
    """Band the signature (2 hashes per band) and emit candidate pairs per
    bucket.  Returns distinct (doc_a, doc_b) with a < b.

    Scale shape: instead of a per-band self-join (which would compute the
    signature subplan once per join side per band — 4× at 2 bands — and
    shuffle |docs| rows per band), all bands explode into ONE (band_idx,
    band) keyed aggregate; pairs are generated inside each bucket with
    higher-order array functions.  One explode + one shuffle total.
    Mega-buckets (degenerate bands) are capped at ``max_bucket`` docs —
    the standard LSH skew guard; the cap keeps worst-case pair fan-out
    bounded (capped buckets keep their ``max_bucket`` smallest doc ids,
    deterministically)."""
    num_hashes = len([c for c in sigs.columns if c.startswith("h")])
    per_band = num_hashes // bands
    band_cols = [
        F.concat(*[F.col(f"h{b * per_band + i}") for i in range(per_band)])
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col), F.posexplode(F.array(*band_cols)).alias("band_idx", "band")
    )
    # drop NULL bands (r10, adversarial fixture): a NULL-text doc has a
    # NULL signature, and groupBy — unlike the equi-join formulation of
    # LSH — groups NULLs TOGETHER, silently pairing every unhashable doc
    # with every other.  No signature ⇒ no candidacy.
    banded = banded.filter(F.col("band").isNotNull())
    buckets = (
        banded.groupBy("band_idx", "band")
        .agg(F.slice(F.sort_array(F.collect_list(id_col)), 1, max_bucket).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # all i<j pairs within a bucket (ids sorted ⇒ doc_a < doc_b)
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


def jaccard_verify(
    corpus: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only (the verify step
    after LSH).  Join cost is bounded by the candidate set, not |docs|²."""
    toks = with_shingles(corpus, id_col).distinct()
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    ta = toks.select(F.col(id_col).alias("doc_a"), "shingle")
    tb = toks.select(F.col(id_col).alias("doc_b2"), F.col("shingle").alias("shingle_b"))
    # duplicate candidate rows would double-count intersections
    candidates = candidates.select("doc_a", "doc_b").distinct()
    inter = (
        candidates.join(ta, "doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("doc_b2")) & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sz", "sa"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sz", "sb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


_SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over word tokens: per-bit signed counts, then bit
    assembly — 32 conditional sums in ONE hash aggregate (single shuffle).
    Token hash = first 8 md5 hex chars as uint32 (portable)."""
    toks = df.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    toks = toks.select(id_col, h.alias("h"))
    # The 32 conditional sums and the 32-term bit assembly are built as
    # PARSED SQL expressions, one py4j call each, instead of ~8 Column-API
    # py4j round trips per term (r15, guide §1.2 per-task work applied to
    # the DRIVER: plan construction alone measured 0.9 s of the 1.2 s cold
    # draw).  The parsed trees are the same expressions the Column API
    # built — CASE WHEN (h & mask) != 0 THEN 1 ELSE -1 END and a
    # left-associated sum of CAST(CASE WHEN s_b > 0 THEN 2^b ELSE 0 END AS
    # BIGINT) — integer arithmetic, bit-identical results (oracle-hash
    # verified at sf0.001/0.01/0.1).
    aggs = [
        F.expr(f"sum(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END) AS s{b}")
        for b in range(_SIMHASH_BITS)
    ]
    per_bit = toks.groupBy(id_col).agg(*aggs)
    sim = " + ".join(
        f"CAST(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END AS BIGINT)"
        for b in range(_SIMHASH_BITS)
    )
    return per_bit.select(id_col, F.expr(sim).alias("simhash"))


# --------------------------------------------------------------------- #
# driver-gate queries (planted-duplicate corpus)
# --------------------------------------------------------------------- #

_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_SHIFT} AS doc_id, text FROM documents WHERE doc_id < {N_PLANTED}
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    planted = d.filter(F.col("doc_id") < N_PLANTED).select(
        (F.col("doc_id") + _SHIFT).alias("doc_id"), "text"
    )
    return d.select("doc_id", "text").unionByName(planted)


@query(
    "dedup_exact",
    f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_duplicates
    FROM corpus
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: content-digest hash aggregate.  At 100 TB the digest is
    computed scan-side and only (digest, count) partials shuffle."""
    c = _corpus(spark, sf_dir).select(F.md5("text").alias("digest"))
    return c.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("digest")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("digest"))).alias("n_duplicates"),
    )


@query(
    "dedup_exact_groups",
    f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT md5(text) AS digest,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark, sf_dir):
    """Duplicate groups with a deterministic keeper (min doc_id) — the
    'which rows to drop' half of exact dedup."""
    return (
        _corpus(spark, sf_dir)
        .groupBy(F.md5("text").alias("digest"))
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("group_size") > 1)
    )


@query(
    "dedup_normalized",
    f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')))) AS BIGINT)
               AS n_distinct_normalized
    FROM corpus
    """,
)
def dedup_normalized(spark, sf_dir):
    """Normalization before digesting (lowercase, strip non-alphanumerics)
    — catches formatting-only duplicates."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "))
    return _corpus(spark, sf_dir).agg(
        F.count_distinct(F.md5(norm)).alias("n_distinct_normalized")
    )


_SIGS_SQL = f"""
    SELECT doc_id,
           MIN(md5('0' || shingle)) AS h0, MIN(md5('1' || shingle)) AS h1,
           MIN(md5('2' || shingle)) AS h2, MIN(md5('3' || shingle)) AS h3
    FROM (
        SELECT doc_id, unnest({_shingles_sql()}) AS shingle
        FROM corpus
    ) GROUP BY doc_id
"""


@query(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sigs AS ({_SIGS_SQL}),
    banded AS (SELECT doc_id, h0 || h1 AS b1, h2 || h3 AS b2 FROM sigs)
    SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b
    FROM banded a JOIN banded b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
    UNION
    SELECT CAST(a.doc_id AS BIGINT), CAST(b.doc_id AS BIGINT)
    FROM banded a JOIN banded b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH candidate pairs (shingle → minhash → band → bucket
    self-join) — SURVEY.md §7.7 / the build brief's scale path for near-dup
    detection."""
    # spread: the corpus is one scan task, so the shingle explode +
    # 4 md5/shingle signature map otherwise runs single-threaded.
    sigs = minhash_signatures(spread(_corpus(spark, sf_dir)))
    return lsh_candidate_pairs(sigs)


@query(
    "dedup_jaccard_verified",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sigs AS ({_SIGS_SQL}),
    banded AS (SELECT doc_id, h0 || h1 AS b1, h2 || h3 AS b2 FROM sigs),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id
        FROM banded a JOIN banded b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
    ),
    toks AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest({_shingles_sql()}) AS shingle FROM corpus
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM cand c
        JOIN toks ta ON ta.doc_id = c.doc_a
        JOIN toks tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT CAST(i.doc_a AS BIGINT) AS doc_a, CAST(i.doc_b AS BIGINT) AS doc_b,
           CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.8
    """,
)
def dedup_jaccard_verified(spark, sf_dir):
    """LSH candidates verified by exact shingle-set Jaccard ≥ 0.8 — the
    full near-dup pipeline end to end."""
    corpus = _corpus(spark, sf_dir)
    cands = lsh_candidate_pairs(minhash_signatures(corpus))
    return jaccard_verify(corpus, cands, threshold=0.8)


def _simhash_sql() -> str:
    h = "CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)"
    sums = ", ".join(
        f"SUM(CASE WHEN ({h} & {1 << b}) != 0 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
    per_bit AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST({assemble} AS BIGINT) AS simhash
    FROM per_bit
    """


@query("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprints for the corpus; identical docs collide exactly,
    near-identical docs land within small Hamming distance."""
    return simhash(_corpus(spark, sf_dir))


@query(
    "dedup_simhash_buckets",
    f"""
    WITH sims AS ({_simhash_sql()})
    SELECT simhash, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM sims GROUP BY simhash HAVING COUNT(*) > 1
    """,
)
def dedup_simhash_buckets(spark, sf_dir):
    """SimHash collision buckets — the dedup decision output."""
    return (
        simhash(_corpus(spark, sf_dir))
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---- near-dup clusters: iterative connected components ----------------- #


def connected_components(pairs: DataFrame, max_iter: int = 15) -> DataFrame:
    """Cluster candidate pairs into components: each node gets the MIN
    doc_id reachable from it (the canonical representative a dedup pass
    keeps).  Iterative min-label propagation — the classic Spark shape for
    algorithms SQL can't express in one pass:

    - one hash-partitioned join + aggregate per round (label flows one hop)
    - ``localCheckpoint`` truncates lineage each round so plans stay flat
      (on a cluster with a checkpoint dir, ``checkpoint`` — same contract)
    - convergence detected by the monotone sum of labels reaching a
      fixpoint, one cheap agg per round

    Near-dup components are short chains in practice, so rounds ≈ cluster
    diameter ≪ max_iter.
    """
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("dst"), F.col("label").alias("nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:  # fixpoint: no label moved
            break
        prev_sum = cur_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))


@query(
    "dedup_clusters",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sigs AS ({_SIGS_SQL}),
    banded AS (SELECT doc_id, h0 || h1 AS b1, h2 || h3 AS b2 FROM sigs),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id
        FROM banded a JOIN banded b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand
    ),
    reach AS (
        WITH RECURSIVE r(node, root) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
        ) SELECT * FROM r
    )
    SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(root) AS BIGINT) AS cluster
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS (not just pairs): LSH candidates → iterative
    connected components; cluster id = min doc_id of the component.  The
    DuckDB oracle computes the same fixpoint with a recursive CTE —
    cross-checking Spark's iterative dataflow against SQL transitive
    closure."""
    pairs = lsh_candidate_pairs(minhash_signatures(_corpus(spark, sf_dir)))
    return connected_components(pairs)


@query(
    "dedup_levenshtein_pairs",
    f"""
    WITH blocked AS (
        SELECT doc_id, text, source, n_chars // 50 AS len_bucket
        FROM documents WHERE doc_id < 150
    )
    SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
           CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS BIGINT)
               AS edit_distance
    FROM blocked a
    JOIN blocked b
      ON a.source = b.source AND a.len_bucket = b.len_bucket
         AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= 40
    """,
)
def dedup_levenshtein_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs with blocking: candidate pairs are
    restricted to the same (source, length-bucket) block before the O(L²)
    levenshtein runs — the blocked-comparison pattern that keeps pairwise
    metrics tractable (cost Σ|block|², never |corpus|²).  Distance is
    computed on an 80-char prefix: a cheap upper-bound screen.

    Semantics pin (r10, adversarial fixture): distance is over CODE
    POINTS (Spark's levenshtein), the standard definition — one
    substitution turns 'é' into '中'.  DuckDB's levenshtein counts BYTES
    (that substitution costs 3), so the SQL oracle is exact only on
    ASCII corpora like the driver's; the multi-byte behavior is pinned
    with explicit expected values in tests/test_text_adversarial.py
    instead."""
    blocked = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select(
            "doc_id",
            F.substring("text", 1, 80).alias("prefix"),
            "source",
            (F.col("n_chars") / 50).cast("long").alias("len_bucket"),
        )
    )
    a = blocked.select(
        F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"),
        "source", "len_bucket",
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"),
        "source", "len_bucket",
    )
    dist = F.levenshtein("pa", "pb")
    return (
        a.join(b, ["source", "len_bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(dist <= 40)
        .select("doc_a", "doc_b", dist.cast("long").alias("edit_distance"))
    )


@query(
    "dup_group_size_histogram",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    groups AS (
        SELECT md5(text) AS digest, COUNT(*) AS group_size
        FROM corpus GROUP BY md5(text)
    )
    SELECT CAST(group_size AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(group_size) AS BIGINT) AS n_docs
    FROM groups GROUP BY group_size
    """,
)
def dup_group_size_histogram(spark, sf_dir):
    """Duplicate-frequency spectrum: how many content groups occur once,
    twice, k times.  The curation dashboard number — a corpus whose mass
    sits in large groups needs dedup before training.  Two chained hash
    aggregates; the second input is |distinct digests| rows, already tiny,
    and both are map-side combinable."""
    groups = (
        _corpus(spark, sf_dir)
        .groupBy(F.md5("text").alias("digest"))
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    return groups.groupBy("group_size").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("group_size").alias("n_docs"),
    )


@query(
    "dedup_cluster_representatives",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sigs AS ({_SIGS_SQL}),
    banded AS (SELECT doc_id, h0 || h1 AS b1, h2 || h3 AS b2 FROM sigs),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id
        FROM banded a JOIN banded b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION
        SELECT doc_b, doc_a FROM cand
    ),
    reach AS (
        WITH RECURSIVE r(node, root) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.root FROM r JOIN edges e ON e.src = r.node
        ) SELECT * FROM r
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(root) AS cluster FROM reach GROUP BY node
    ),
    ranked AS (
        SELECT c.cluster, c.doc_id, length(t.text) AS n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.cluster
                                  ORDER BY length(t.text) DESC, c.doc_id ASC)
                   AS rn
        FROM clusters c JOIN corpus t ON t.doc_id = c.doc_id
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS rep_doc_id,
           CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS rep_chars,
           CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM ranked GROUP BY cluster
    """,
)
def dedup_cluster_representatives(spark, sf_dir):
    """The keep-policy half of near-dup dedup: per connected component,
    elect ONE representative document by quality (longest text, doc_id as
    the deterministic tiebreak) — everything else is the drop list.  On
    Spark this is the cluster assignment (iterative CC) joined back to the
    corpus, then a single max_by hash aggregate per cluster: one shuffle on
    the cluster key, no window over the full corpus.  The DuckDB oracle
    replays the identical election with a recursive CTE + ROW_NUMBER."""
    corpus = _corpus(spark, sf_dir).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    clusters = connected_components(
        lsh_candidate_pairs(minhash_signatures(_corpus(spark, sf_dir)))
    )
    member = clusters.join(corpus, "doc_id")
    rank_key = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    return member.groupBy("cluster").agg(
        F.max_by(F.col("doc_id"), rank_key).alias("rep_doc_id"),
        F.max("n_chars").alias("rep_chars"),
        F.count(F.lit(1)).alias("cluster_size"),
    )


@query(
    "dedup_prefix_filter_pairs",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tok AS (
        SELECT DISTINCT doc_id, unnest({_shingles_sql()}) AS shingle
        FROM corpus
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
    df AS (SELECT shingle, COUNT(*) AS doc_freq FROM tok GROUP BY shingle),
    rare AS (
        SELECT doc_id, shingle FROM (
            SELECT t.doc_id, t.shingle,
                   ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                      ORDER BY d.doc_freq ASC, t.shingle ASC)
                       AS rn
            FROM tok t JOIN df d USING (shingle)
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rare a JOIN rare b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    shared AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.doc_a
        JOIN tok tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT CAST(s.doc_a AS BIGINT) AS doc_a, CAST(s.doc_b AS BIGINT) AS doc_b,
           CAST(s.n_shared AS DOUBLE)
               / CAST(sa.n_tok + sb.n_tok - s.n_shared AS DOUBLE) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE CAST(s.n_shared AS DOUBLE)
              / CAST(sa.n_tok + sb.n_tok - s.n_shared AS DOUBLE) >= 0.5
    """,
)
def dedup_prefix_filter_pairs(spark, sf_dir):
    """Set-similarity join by PREFIX FILTERING (the PPJoin family) — the
    other classic scalable candidate generator besides LSH: two documents
    with Jaccard ≥ t must share a token among their rarest few, so pairing
    docs only through their 2 globally-rarest shingles bounds candidates
    to the small document-frequency buckets (cost Σ|rare-bucket|², never
    |corpus|²) with NO false negatives at high t — unlike MinHash banding,
    which is probabilistic.  Verification computes exact Jaccard from
    integer set sizes; the single double division is cross-engine stable.

    Pipeline: distinct (doc, shingle) explode → shingle doc-frequency →
    per-doc 2 rarest (window over the doc's own tokens) → equi-join on the
    rare shingle → exact-count verify on candidates only."""
    return prefix_filter_pairs(_corpus(spark, sf_dir))


#: Auto-persist gate for ``prefix_filter_pairs``: persist the exploded
#: shingle table only when the corpus has at least this many documents.
#: The interleaved A/B (BASELINE.md "PPJoin tok persist: measured, kept")
#: won at sf10 (500k docs, 1.08x) and sf100 (5M docs, 1.15x) but TAXED
#: the sf0.1 gate query 64% (5k docs) — the threshold sits a decade
#: below the smallest measured win and a decade above the measured tax.
PERSIST_TOK_MIN_DOCS = 100_000

#: Coarse per-document estimate of the DISK_ONLY tok cache's on-disk
#: size (serialized (doc_id, shingle) rows: ~60 shingles/doc at the
#: testdata document shape; BASELINE.md's "tens of GB at sf100" / 5M
#: docs).  A DISK_ONLY cache has NO graceful degradation — blocks that
#: don't fit fill the volume until tasks die on ENOSPC (measured: the
#: first persist-enabled sf100 sweep killed the box at 46 GB of
#: blockmgr, BASELINE.md r12) — so the auto gate only persists when the
#: estimate fits in HALF the free space of the Spark local dir, leaving
#: the other half for the join's own shuffle spill, which peaks
#: CONCURRENTLY with the cache.  Explicit ``persist_tok=True`` skips
#: the check (cluster executors have their own disks).
PERSIST_TOK_EST_BYTES_PER_DOC = 8192


def _persist_tok_fits_disk(corpus: DataFrame, n_docs: int) -> bool:
    import os
    import shutil

    # SPARK_LOCAL_DIRS (the env var) OVERRIDES spark.local.dir in Spark's
    # own resolution order, so a deployment that sets only the env var
    # would have this gate probing the wrong volume — approving a persist
    # that lands on a smaller disk, the exact ENOSPC class the gate
    # exists to prevent.  Mirror Spark: env first, conf
    # fallback, /tmp default.  Spark round-robins blocks across EVERY
    # listed dir, so the usable pool is the SUM of free space over the
    # distinct filesystems behind the list (probing only the
    # first entry under- or over-estimated multi-volume deployments,
    # depending on which dir happened to be listed first); two dirs on
    # one volume share its free space, hence dedup by st_dev.
    local_dirs = (
        os.environ.get("SPARK_LOCAL_DIRS")
        or corpus.sparkSession.conf.get("spark.local.dir", "/tmp")
    ).split(",")
    free = 0
    seen_devs: set[int] = set()
    for d in local_dirs:
        d = d.strip()
        if not d:
            continue
        try:
            dev = os.stat(d).st_dev
            if dev in seen_devs:
                continue
            seen_devs.add(dev)
            free += shutil.disk_usage(d).free
        except OSError:
            continue
    if not seen_devs:
        return False
    return n_docs * PERSIST_TOK_EST_BYTES_PER_DOC <= free // 2


def prefix_filter_pairs(
    corpus: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
    persist_tok: bool | None = None,
) -> DataFrame:
    """The PPJoin body behind ``dedup_prefix_filter_pairs`` (refactored
    r10 so the stop-list lever is callable; the oracle-gated registry
    query keeps ``max_df=None``, i.e. exact semantics).

    ``max_df`` is the standard PPJoin STOP-LIST: shingles whose document
    frequency exceeds the bound are excluded from the candidate-generating
    prefix join.  It exists for the degenerate-corpus case where even a
    doc's 2 RAREST shingles are shared by thousands of documents (boiler-
    plate, templated text): those buckets drive the join's quadratic term
    — at sf100 ppjoin's ~25 GB spill (the r9 sweep's page-cache churn
    mechanism) is exactly Σ|bucket∩prefix|² over the largest buckets.
    Trade disclosed, not hidden: a pair whose ONLY shared prefix shingle
    is stop-listed is MISSED, so with ``max_df`` set the operator is a
    high-recall screen, not the exact join; the before/after pair counts
    and spill bytes are recorded in BASELINE.md ("PPJoin stop-list")."""
    tok = with_shingles(corpus).distinct()
    if persist_tok is None:
        # Size-gated auto default:
        # the unconditional r11 default taxed the 5k-doc sf0.1 gate
        # query 64% to benefit corpora 100x larger, and leaked one
        # DISK_ONLY cache per call in every no-arg sweep caller.  The
        # one extra count() job here is a single-column scan, cheap at
        # every tier relative to the join it gates.  Disk-awareness
        # (see PERSIST_TOK_EST_BYTES_PER_DOC): a cache the local volume
        # cannot hold alongside the join's spill is strictly worse than
        # recomputing the explode.
        n_docs = corpus.count()
        persist_tok = n_docs >= PERSIST_TOK_MIN_DOCS and _persist_tok_fits_disk(
            corpus, n_docs
        )
    if persist_tok:
        # ``tok`` feeds THREE subplans (the doc-frequency aggregate +
        # both sides of the verify join), so without a persist each use
        # re-explodes the corpus.  The interleaved A/B (BASELINE.md
        # "PPJoin tok persist: measured, kept") measured the persist arm
        # winning where it matters:
        # sf10 median 39.6→36.7 s (1.08x), sf100 379→330 s (1.15x,
        # every adjacent draw pair favoring persist).
        # DISK_ONLY (not MEMORY) because at sf100 the exploded table is
        # tens of GB per draw — memory caching would evict the shuffle
        # pages the join needs.  Caller owns the cache lifetime
        # (spark.catalog.clearCache()); pass persist_tok=False for
        # one-shot plans that must stay side-effect-free.
        from pyspark import StorageLevel

        tok = tok.persist(StorageLevel.DISK_ONLY)
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    df_ = tok.groupBy("shingle").agg(F.count(F.lit(1)).alias("doc_freq"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("doc_freq").asc(), F.col("shingle").asc()
    )
    rare = (
        tok.join(df_, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    if max_df is not None:
        rare = rare.filter(F.col("doc_freq") <= max_df)
    rare = rare.select("doc_id", "shingle")
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("doc_a"), "shingle")
    tb = tok.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        cand.join(ta, "doc_a").join(tb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("nb"))
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    ).cast("double")
    return (
        shared.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------- #
# Incremental-batch dedup.  The daily-crawl shape: a NEW batch arrives
# and must be deduped against the EXISTING corpus index without touching
# new×new or base×base pairs.  The planted copies stand in as the incoming
# batch.  Scale design: the increment is small relative to the corpus by
# definition, so its digests and band keys BROADCAST into the base-side
# joins — the base corpus is scanned once per representation and never
# self-joined.
# --------------------------------------------------------------------------- #

_INCR_NEW_SQL = f"""
    SELECT doc_id + {_SHIFT} AS doc_id, text FROM documents
    WHERE doc_id < {N_PLANTED}
"""


def _band_sql(src: str) -> str:
    """(doc_id, band) rows: 2 bands of 2 md5-minhashes each, from ``src``."""
    return f"""
        SELECT doc_id, h0 || h1 AS band FROM {src}
        UNION ALL
        SELECT doc_id, h2 || h3 AS band FROM {src}
    """


@query(
    "dedup_incremental_batch",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    new_batch AS ({_INCR_NEW_SQL}),
    bsig AS (
        SELECT doc_id,
               MIN(md5('0' || shingle)) AS h0, MIN(md5('1' || shingle)) AS h1,
               MIN(md5('2' || shingle)) AS h2, MIN(md5('3' || shingle)) AS h3
        FROM (SELECT doc_id, unnest({_shingles_sql()}) AS shingle FROM base)
        GROUP BY doc_id
    ),
    nsig AS (
        SELECT doc_id,
               MIN(md5('0' || shingle)) AS h0, MIN(md5('1' || shingle)) AS h1,
               MIN(md5('2' || shingle)) AS h2, MIN(md5('3' || shingle)) AS h3
        FROM (SELECT doc_id, unnest({_shingles_sql()}) AS shingle
              FROM new_batch)
        GROUP BY doc_id
    ),
    near AS (
        SELECT DISTINCT n.doc_id AS new_doc_id, b.doc_id AS base_doc_id
        FROM ({_band_sql('nsig')}) n JOIN ({_band_sql('bsig')}) b USING (band)
    ),
    exact AS (
        SELECT n.doc_id AS new_doc_id, b.doc_id AS base_doc_id
        FROM new_batch n JOIN base b ON md5(n.text) = md5(b.text)
    )
    SELECT nb.doc_id AS new_doc_id,
           CAST(COALESCE(e.n, 0) AS BIGINT) AS n_exact,
           CAST(COALESCE(nr.n, 0) AS BIGINT) AS n_near,
           CAST(nr.first_match AS BIGINT) AS first_match
    FROM new_batch nb
    LEFT JOIN (SELECT new_doc_id, COUNT(*) AS n FROM exact GROUP BY 1) e
        ON e.new_doc_id = nb.doc_id
    LEFT JOIN (SELECT new_doc_id, COUNT(*) AS n, MIN(base_doc_id) AS first_match
               FROM near GROUP BY 1) nr
        ON nr.new_doc_id = nb.doc_id
    """,
)
def dedup_incremental_batch(spark, sf_dir):
    """Dedup an incoming batch against the existing corpus only: exact by
    content digest, near by LSH band collision.  New-side digests/bands
    broadcast; the base corpus is never self-joined."""
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", "text")
    new_batch = d.filter(F.col("doc_id") < N_PLANTED).select(
        (F.col("doc_id") + _SHIFT).alias("doc_id"), "text"
    )
    bands = lambda sigs: sigs.select(  # noqa: E731
        "doc_id", F.concat("h0", "h1").alias("band")
    ).unionByName(sigs.select("doc_id", F.concat("h2", "h3").alias("band")))

    near = (
        bands(minhash_signatures(new_batch))
        .withColumnRenamed("doc_id", "new_doc_id")
        .join(
            bands(minhash_signatures(base)).withColumnRenamed(
                "doc_id", "base_doc_id"
            ),
            "band",
        )
        .select("new_doc_id", "base_doc_id")
        .distinct()
        .groupBy("new_doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_near"),
            F.min("base_doc_id").alias("first_match"),
        )
    )
    exact = (
        F.broadcast(
            new_batch.select(
                F.col("doc_id").alias("new_doc_id"), F.md5("text").alias("dg")
            )
        )
        .join(base.select(F.md5("text").alias("dg")), "dg")
        .groupBy("new_doc_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        new_batch.select(F.col("doc_id").alias("new_doc_id"))
        .join(exact, "new_doc_id", "left")
        .join(near, "new_doc_id", "left")
        .select(
            "new_doc_id",
            F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"),
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
            F.col("first_match").cast("long").alias("first_match"),
        )
    )


# --------------------------------------------------------------------------- #
# Train/test split leakage audit.  Deduplication and splitting compose
# badly: a hash-of-id split sends exact duplicates to BOTH sides, leaking
# evaluation data into training.  This audit joins the duplicate-group view
# with the split assignment and counts groups straddling the boundary —
# the check to run before any split ships.  Single digest-keyed aggregate;
# the same deterministic hash-split as sampling.train_test_split.
# --------------------------------------------------------------------------- #

_LEAK_TEST_RATE = 0.1

# the ONE split-hash definition (Spark + SQL halves live in sampling.py):
# re-inlining the formula here would let the two engines drift apart
from fstore_sql_spark.operators.sampling import _hash_frac_sql  # noqa: E402


@query(
    "split_leakage_audit",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tagged AS (
        SELECT md5(text) AS dg,
               CASE WHEN {_hash_frac_sql('doc_id')} < {_LEAK_TEST_RATE}
                    THEN 1 ELSE 0 END AS is_test
        FROM corpus
    ),
    groups AS (
        SELECT dg, COUNT(*) AS n, SUM(is_test) AS n_test
        FROM tagged GROUP BY dg
    )
    SELECT CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
           CAST(SUM(CASE WHEN n > 1 AND n_test > 0 AND n_test < n
                    THEN 1 ELSE 0 END) AS BIGINT) AS leaky_groups,
           CAST(SUM(CASE WHEN n > 1 AND n_test > 0 AND n_test < n
                    THEN n_test ELSE 0 END) AS BIGINT) AS leaked_test_docs
    FROM groups
    """,
)
def split_leakage_audit(spark, sf_dir):
    """Exact-duplicate groups straddling a deterministic train/test split:
    the 'is my eval set contaminated by training dups' report."""
    from fstore_sql_spark.operators.sampling import _hash_frac

    tagged = _corpus(spark, sf_dir).select(
        F.md5("text").alias("dg"),
        F.when(_hash_frac("doc_id") < _LEAK_TEST_RATE, 1).otherwise(0).alias(
            "is_test"
        ),
    )
    groups = tagged.groupBy("dg").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_test").alias("n_test")
    )
    leaky = (F.col("n") > 1) & (F.col("n_test") > 0) & (F.col("n_test") < F.col("n"))
    return groups.agg(
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("dup_groups"),
        F.sum(F.when(leaky, 1).otherwise(0)).cast("long").alias("leaky_groups"),
        F.sum(F.when(leaky, F.col("n_test")).otherwise(0))
        .cast("long")
        .alias("leaked_test_docs"),
    )


# --------------------------------------------------------------------------- #
# Leakage-safe split.  The REPAIR for what split_leakage_audit
# measures: splitting on a hash of the duplicate-group key (the content
# digest) instead of the document id sends every exact-duplicate cluster
# to ONE side by construction — leakage cannot exist.  Same deterministic
# hash-fraction machinery as sampling.train_test_split, same single
# digest-keyed aggregate as the audit.
# --------------------------------------------------------------------------- #

@query(
    "cluster_safe_split",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    tagged AS (
        SELECT md5(text) AS dg,
               CASE WHEN {_hash_frac_sql("md5(text)")} < {_LEAK_TEST_RATE}
                    THEN 1 ELSE 0 END AS is_test
        FROM corpus
    ),
    groups AS (
        SELECT dg, COUNT(*) AS n, SUM(is_test) AS n_test
        FROM tagged GROUP BY dg
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(n_test) AS BIGINT) AS n_test_docs,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
           CAST(SUM(CASE WHEN n > 1 AND n_test > 0 AND n_test < n
                    THEN 1 ELSE 0 END) AS BIGINT) AS leaky_groups
    FROM groups
    """,
)
def cluster_safe_split(spark, sf_dir):
    """Group-keyed split: hash the CONTENT DIGEST, not the doc id.  The
    audit columns must report zero leaky groups by construction."""
    from fstore_sql_spark.operators.sampling import _hash_frac

    tagged = _corpus(spark, sf_dir).select(
        F.md5("text").alias("dg"),
        F.when(_hash_frac(F.md5("text")) < _LEAK_TEST_RATE, 1)
        .otherwise(0)
        .alias("is_test"),
    )
    groups = tagged.groupBy("dg").agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_test").alias("n_test")
    )
    leaky = (F.col("n") > 1) & (F.col("n_test") > 0) & (F.col("n_test") < F.col("n"))
    return groups.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("n_test").cast("long").alias("n_test_docs"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("dup_groups"),
        F.sum(F.when(leaky, 1).otherwise(0)).cast("long").alias("leaky_groups"),
    )
