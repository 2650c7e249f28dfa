"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, document fingerprinting (rolling hash), language-ID.

Everything except language-ID is built-in-function-only (JVM-side,
codegen'd).  Language-ID is the one genuinely Python-shaped operator here
and demonstrates the Arrow-batched Pandas-UDF path (never row-at-a-time).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from fstore_sql_spark.queries import hash32, hash32_sql, load, query, spread

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens_col(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


@query(
    "text_token_stats",
    f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
           CAST(SUM({hash32_sql("array_to_string(string_split(text, ' '), chr(31))")})
               AS BIGINT) AS tok_digest
    FROM documents GROUP BY lang
    """,
)
def text_token_stats(spark, sf_dir):
    """Whitespace token counting, aggregated per language — the token-budget
    accounting query of a training-data pipeline.

    ``tok_digest``: an order-insensitive 32-bit-sum
    digest of the token CONTENTS, so a tokenizer bug that preserves
    per-doc counts (the r10 BPE regex class) cannot keep this gate green.
    NULL text must stay NULL on the Spark side: ``concat_ws`` treats a
    NULL array as empty (''), while DuckDB's array_to_string propagates
    NULL — both engines then skip the doc in SUM."""
    n = F.size(tokens_col())
    doc_digest = F.when(
        F.col("text").isNull(), F.lit(None)
    ).otherwise(hash32(F.concat_ws("\x1f", tokens_col())))
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n).alias("total_tokens"),
            (F.sum(n).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.max(n).alias("max_tokens"),
            F.sum(doc_digest).alias("tok_digest"),
        )
    )


_STOP_SQL = "['" + "','".join(STOPWORDS) + "']"


@query(
    "text_quality_by_source",
    f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(string_split(text,' '))) AS DOUBLE) / COUNT(*) AS avg_words,
           CAST(SUM(len(list_filter(string_split(text,' '),
                w -> list_contains({_STOP_SQL}, w)))) AS DOUBLE)
               / SUM(len(string_split(text,' '))) AS stopword_ratio
    FROM documents GROUP BY source
    """,
)
def text_quality_by_source(spark, sf_dir):
    """Quality-scoring signals per source: length, words/doc, stopword
    ratio — the features behind a C4/Gopher-style quality filter."""
    w = tokens_col()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    return (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            (F.sum(F.size(w)).cast("double") / F.count(F.lit(1))).alias("avg_words"),
            (F.sum(n_stop).cast("double") / F.sum(F.size(w))).alias("stopword_ratio"),
        )
    )


@query(
    "text_quality_filter",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source
    FROM documents
    WHERE n_chars >= 100
      AND len(string_split(text,' ')) >= 20
      AND CAST(len(list_filter(string_split(text,' '),
              w -> list_contains({_STOP_SQL}, w))) AS DOUBLE)
              / len(string_split(text,' ')) BETWEEN 0.05 AND 0.6
    """,
)
def text_quality_filter(spark, sf_dir):
    """The filter itself: keep docs passing minimum length / token count /
    stopword-band rules.  Pure scan-side predicate — no shuffle at all."""
    w = tokens_col()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    ) / F.size(w)
    return (
        load(spark, sf_dir, "documents")
        .filter(
            (F.col("n_chars") >= 100)
            & (F.size(w) >= 20)
            & ratio.between(0.05, 0.6)
        )
        .select("doc_id", "lang", "source")
    )


@query(
    "text_fingerprint",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           MIN(md5(sub)) AS fingerprint
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(octet_length(encode(text)) - 6, 1) + 1),
                   i -> substring(to_hex(encode(text)),
                                  CAST(2 * i - 1 AS INT), 16))) AS sub
        FROM documents
    ) GROUP BY doc_id
    """,
)
def text_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint: min digest over all 8-gram BYTE
    shingles (winnowing with window = whole doc).  Two changes, both
    measured in BASELINE.md "text_fingerprint per-row cost:
    characterized and fixed":

    - RUNNING min via ``F.aggregate`` instead of
      ``array_min(transform(...))`` — O(1) live digest strings per row
      (the array form materialized one 32-hex md5 per position).
    - BYTE-indexed slicing (``cast("binary")``) instead of char-indexed
      ``substring(text, i, 8)`` — char indexing into a UTF8 string scans
      from the start to locate char i (variable-width encoding), making
      the whole fingerprint O(len²) per doc: measured 170 s for ONE
      250k-char doc vs 0.75 s byte-indexed (226×), 3.3 s at 4M chars.

    Two choices, both exercised by the adversarial
    non-ASCII fixture (`tests/test_text_adversarial.py`):

    - The digested unit is the HEX encoding of the byte slice
      (``md5(hex(bytes))``), not the raw bytes: DuckDB's ``md5`` only
      accepts VARCHAR, and a mid-codepoint byte slice of multi-byte text
      is not valid UTF-8 — hex is always ASCII, so BOTH engines hash the
      identical string and the oracle pins byte semantics on ANY corpus,
      not just ASCII ones (Spark ``hex`` and DuckDB ``to_hex`` both emit
      uppercase).  Still O(1) per position, still a deterministic
      16-byte-keyed fingerprint.
    - NULL text keeps a NULL fingerprint: the fold's identity ``'g'``
      would otherwise surface as a real-looking shared fingerprint for
      every NULL doc, colliding them in downstream dedup (the oracle's
      NULL list unnests to one NULL row, so DuckDB already returned
      NULL).

    'g' sorts after every hex digest, so it is a safe fold identity."""
    b = F.col("text").cast("binary")
    idx = F.sequence(F.lit(1), F.greatest(F.length(b) - 6, F.lit(1)))
    fold = F.aggregate(
        idx,
        F.lit("g"),
        lambda acc, i: F.least(acc, F.md5(F.hex(F.substring(b, i, 8)))),
    )
    # spread: one md5 per byte position per doc — by far the most
    # compute per input byte of any scan-shaped operator — otherwise runs
    # entirely in the single scan task of the small corpus file.
    return spread(load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.when(F.col("text").isNotNull(), fold)
        .otherwise(F.lit(None).cast("string"))
        .alias("fingerprint"),
    )


# ---- language-ID: the Pandas-UDF (Arrow-batched) operator -------------- #

_LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "es"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


def _make_langid_udf():
    """Built lazily — a @pandas_udf at module import time breaks executor-
    side unpickling (the decorator parses its DDL type string, which needs
    an active session that workers don't have)."""

    @pandas_udf("string")
    def _langid_udf(texts: pd.Series) -> pd.Series:
        # Marker-word heuristic, vectorized per Arrow batch; ties break
        # alphabetically so output is deterministic.  NULL text → NULL
        # prediction (r10, adversarial fixture: .map(len-style) lambdas
        # crash whole Arrow batches on None, and "no text" is not "de").
        def ident(t: str) -> str:
            if t is None:
                return None
            words = set(t.split(" "))
            best = ("", -1)
            for lang in sorted(_LANG_PROFILES):
                score = sum(1 for m in _LANG_PROFILES[lang] if m in words)
                if score > best[1]:
                    best = (lang, score)
            return best[0]

        return texts.map(ident)

    return _langid_udf


@query(
    "text_langid",
    """
    WITH w AS (
        SELECT lang, string_split(text, ' ') AS ws,
               text IS NULL AS tnull
        FROM documents
    ), sc AS (
        SELECT lang, tnull,
            len(list_filter(['der','die','und','das','ist'], m -> list_contains(ws, m))) AS s_de,
            len(list_filter(['the','and','of','to','is'],   m -> list_contains(ws, m))) AS s_en,
            len(list_filter(['el','la','de','que','es'],    m -> list_contains(ws, m))) AS s_es,
            len(list_filter(['le','la','et','les','est'],   m -> list_contains(ws, m))) AS s_fr,
            len(list_filter(['de5','shi4','le5','zai4','he2'], m -> list_contains(ws, m))) AS s_zh
        FROM w
    ), p AS (
        SELECT lang,
            CASE
                WHEN tnull THEN NULL
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh'
            END AS lang_pred
        FROM sc
    )
    SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM p GROUP BY lang, lang_pred
    """,
)
def text_langid(spark, sf_dir):
    """Language-ID via an Arrow-batched Pandas UDF (the ~10-100× faster
    Python boundary; never row-at-a-time).  Returns predicted vs labeled
    language counts.

    Was rows-only in r2; the marker-word heuristic (count of profile
    words present, argmax with alphabetical tie-break) IS expressible in
    SQL, so the oracle now re-implements it exactly (list_filter +
    list_contains per profile, CASE cascade in alphabetical lang order ≡
    the Python loop's first-wins-on-ties) — a full value oracle, not an
    agreement bound."""
    d = load(spark, sf_dir, "documents")
    langid = _make_langid_udf()
    return (
        d.select("lang", langid(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---- BPE-ish regex tokenizer ------------------------------------------ #

# GPT-2-style pretokenizer, simplified to the subset with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): word runs, digit runs,
# punctuation runs, each optionally space-prefixed.  No lookahead (RE2
# lacks it).
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


@query(
    "text_bpe_token_counts",
    f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))) AS BIGINT)
               AS total_bpe_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))) AS DOUBLE)
               / SUM(len(string_split(text, ' '))) AS bpe_per_word,
           CAST(SUM({hash32_sql(
               "array_to_string(regexp_extract_all(text, '"
               + BPE_ISH_PATTERN
               + "'), chr(31))"
           )}) AS BIGINT) AS bpe_digest
    FROM documents GROUP BY source
    """,
)
def text_bpe_token_counts(spark, sf_dir):
    """BPE-ish token budget accounting (SURVEY.md training-data ops):
    subword-style pretokenization via regexp_extract_all — JVM-side regex,
    no Python in the loop; the per-word ratio approximates tokens-per-word
    for budget planning."""
    # F.lit(pattern), NOT an f-stringed F.expr (r10, adversarial fixture):
    # inside a Spark SQL string literal '\s' collapses to 's', so the JVM
    # silently ran [^A-Za-z0-9s] — whitespace NOT excluded from the
    # punctuation class.  On the single-spaced ASCII driver corpus the
    # token COUNTS happened to agree with the oracle (contents differed),
    # so only a corpus with consecutive-space/RTL/tab text exposed it.
    bpe_n = F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0))
    ws_n = F.size(F.split(F.col("text"), " "))
    # bpe_digest: token CONTENTS, not just counts —
    # the r10 '\s'-collapse bug kept counts equal on ASCII while contents
    # were wrong; this column makes that class impossible to miss.  NULL
    # and ZERO-TOKEN docs both digest to NULL: DuckDB's array_to_string
    # of an EMPTY list is NULL (not ''), while Spark's concat_ws is ''
    # for both empty and NULL arrays — found by this very digest on the
    # adversarial corpus's whitespace-only docs, so the convention is
    # pinned here rather than left to engine defaults.  (The raw-split
    # digest in text_token_stats never hits this: string_split always
    # returns >= 1 element.)
    doc_digest = F.when(
        F.col("text").isNull() | (bpe_n == 0), F.lit(None)
    ).otherwise(
        hash32(
            F.concat_ws(
                "\x1f", F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
            )
        )
    )
    return (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(bpe_n).alias("total_bpe_tokens"),
            (F.sum(bpe_n).cast("double") / F.sum(ws_n)).alias("bpe_per_word"),
            F.sum(doc_digest).alias("bpe_digest"),
        )
    )


_WORDS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


def words_col(text_col: str = "text") -> Column:
    """Lowercased, empty-stripped word array — the shared tokenization of
    the vocabulary / n-gram / contamination operators below."""
    return F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")


@query(
    "vocab_top_terms",
    f"""
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest({_WORDS}) AS w FROM documents)
    GROUP BY 1 ORDER BY freq DESC, word LIMIT 100
    """,
)
def vocab_top_terms(spark, sf_dir):
    """Vocabulary building — the canonical word-count: explode → hash
    aggregate → top-k.  One shuffle (partial counts combine map-side);
    the LIMIT plans as TakeOrderedAndProject, never a global sort.  The
    (freq DESC, word ASC) tie-break makes the top-100 deterministic."""
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(words_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(100)
    )


@query(
    "bigram_counts",
    f"""
    SELECT bg AS bigram, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      SELECT unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))
             AS bg
      FROM (SELECT {_WORDS} AS l FROM documents)
    ) GROUP BY 1 ORDER BY freq DESC, bigram LIMIT 50
    """,
)
def bigram_counts(spark, sf_dir):
    """Adjacent-pair n-gram frequencies (language-model count-table shape): the
    n-gram expansion happens array-side with a codegen'd transform over
    index sequences — no self-join, no Python — then one count shuffle."""
    # size < 2 guard (r10, adversarial fixture): Spark's sequence(1, 0)
    # DESCENDS to [1, 0] (step defaults to -1 when start > stop), so the
    # old greatest(size-1, 0) bound made single-word and empty docs index
    # element_at(_w, 2) on a 1-element array — an ANSI out-of-bounds
    # error.  DuckDB's range(1, 0) is empty, so only the Spark side broke.
    bigrams = F.expr(
        "CASE WHEN size(_w) < 2 THEN array()"
        " ELSE transform(sequence(1, size(_w) - 1),"
        " i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1))) END"
    )
    return (
        load(spark, sf_dir, "documents")
        .select(words_col().alias("_w"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "bigram")
        .limit(50)
    )


@query(
    "term_doc_stats",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_WORDS}) AS w FROM documents),
    tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    dfq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df
            FROM (SELECT DISTINCT doc_id, w FROM toks) GROUP BY 1)
    SELECT tf.doc_id, tf.w AS word, tf.tf, dfq.df
    FROM tf JOIN dfq ON tf.w = dfq.w
    WHERE tf.doc_id < 20
    """,
)
def term_doc_stats(spark, sf_dir):
    """The doc-term matrix underlying TF-IDF: per-(doc, term) frequency
    joined with corpus-wide document frequency.  TF is computed only for
    the requested docs (filter pushes to the scan); DF spans the corpus
    and broadcasts (|vocab| rows).  Counts stay exact integers — the
    float idf = ln(N/df) is left to the caller, keeping the oracle
    comparison exact."""
    d = load(spark, sf_dir, "documents")
    toks_all = d.select("doc_id", F.explode(words_col()).alias("word"))
    tf = (
        d.filter(F.col("doc_id") < 20)
        .select("doc_id", F.explode(words_col()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = (
        toks_all.distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return tf.join(F.broadcast(df), "word").select("doc_id", "word", "tf", "df")


@query(
    "benchmark_contamination",
    f"""
    WITH sh AS (SELECT DISTINCT doc_id, source, g FROM (
       SELECT doc_id, source,
              unnest(list_transform(range(1, len(l) - 3),
                  i -> l[i]||' '||l[i+1]||' '||l[i+2]||' '||l[i+3]||' '||l[i+4]))
              AS g
       FROM (SELECT doc_id, source, {_WORDS} AS l FROM documents)))
    SELECT t.source, CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS contaminated_docs
    FROM (SELECT doc_id, source, g FROM sh WHERE source <> 'src0') t
    JOIN (SELECT DISTINCT g FROM sh WHERE source = 'src0') b USING (g)
    GROUP BY 1
    """,
)
def benchmark_contamination(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 5-gram with a
    held-out benchmark set (source 'src0' stands in).  The benchmark
    shingle set is small → broadcast semi-join against the training
    shingles; per-source contaminated-doc counts come from one distinct
    aggregate.  At 100 TB the benchmark side stays broadcastable (real
    eval sets are tiny) so the train side is a single scan + semi-join."""
    # <5-word guard (r11, sf1 adversarial slice): Spark's sequence(1, 0)
    # DESCENDS ([1, 0]) and slice(_w, 0, 5) throws — the same class as the
    # r10 bigram_counts fix.  The r10 fixture could not catch this one:
    # its SOURCES had no 'src0', so the benchmark side was empty and AQE
    # empty-relation propagation skipped the train scan entirely (the
    # parity pass was vacuous).  Fixed fixture sources + the multi-byte
    # sf1 slice both exercise it now.  DuckDB's range(1, len-3) is
    # already empty for len < 5, so only the Spark side changes.
    fivegrams = F.expr(
        "CASE WHEN size(_w) >= 5 THEN transform(sequence(1, size(_w) - 4),"
        " i -> concat_ws(' ', slice(_w, i, 5)))"
        " ELSE CAST(array() AS array<string>) END"
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", words_col().alias("_w")
    )
    sh = d.select("doc_id", "source", F.explode(fivegrams).alias("g"))
    bench = sh.filter(F.col("source") == "src0").select("g").distinct()
    train = sh.filter(F.col("source") != "src0")
    return (
        train.join(F.broadcast(bench), "g", "leftsemi")
        .groupBy("source")
        .agg(F.count_distinct("doc_id").alias("contaminated_docs"))
    )


_QUALITY_SQL = f"""
    SELECT doc_id, lang, text FROM documents
    WHERE n_chars >= 100
      AND len(string_split(text,' ')) >= 20
      AND CAST(len(list_filter(string_split(text,' '),
              w -> list_contains({_STOP_SQL}, w))) AS DOUBLE)
              / len(string_split(text,' ')) BETWEEN 0.05 AND 0.6
"""


@query(
    "corpus_curation_funnel",
    f"""
    WITH quality AS ({_QUALITY_SQL}),
    deduped AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM quality) WHERE rn = 1),
    sampled AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM deduped) WHERE rn <= 10)
    SELECT r.lang, r.n_raw,
           COALESCE(q.n, 0) AS n_quality,
           COALESCE(d.n, 0) AS n_deduped,
           COALESCE(s.n, 0) AS n_sampled
    FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_raw
          FROM documents GROUP BY 1) r
    LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM quality GROUP BY 1) q USING (lang)
    LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM deduped GROUP BY 1) d USING (lang)
    LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM sampled GROUP BY 1) s USING (lang)
    """,
)
def corpus_curation_funnel(spark, sf_dir):
    """The end-to-end curation pipeline in one plan: quality filter →
    exact dedup (keep lowest doc_id per content digest) → stratified
    10-per-language sample, reporting the per-language survivor count at
    every stage.  Each stage is the already-tested operator composed
    lazily — Catalyst sees one tree, so the scan happens once and the
    funnel counts are tiny per-lang aggregates joined at the end."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = tokens_col()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    ) / F.size(w)
    quality = d.filter(
        (F.col("n_chars") >= 100) & (F.size(w) >= 20) & ratio.between(0.05, 0.6)
    ).select("doc_id", "lang", "text")
    dd_w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        quality.withColumn("rn", F.row_number().over(dd_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )
    s_w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    sampled = (
        deduped.withColumn("rn", F.row_number().over(s_w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang")
    )

    def stage_counts(df, name):
        return df.groupBy("lang").agg(F.count(F.lit(1)).alias(name))

    return (
        stage_counts(d, "n_raw")
        .join(stage_counts(quality, "n_quality"), "lang", "left")
        .join(stage_counts(deduped, "n_deduped"), "lang", "left")
        .join(stage_counts(sampled, "n_sampled"), "lang", "left")
        .select(
            "lang",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_deduped", F.lit(0)).alias("n_deduped"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
    )


@query(
    "doc_repetition_stats",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS l FROM documents),
    base AS (SELECT doc_id, len(l) AS n_words, len(list_distinct(l)) AS n_distinct
             FROM w),
    big AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))
                       AS bg
            FROM w),
    bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY 1, 2),
    bstat AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
                  AS top_bigram_frac
              FROM bc GROUP BY 1),
    bdg AS (SELECT doc_id,
                   md5(array_to_string(list_sort(
                       list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])),
                       chr(31))) AS bigram_digest
            FROM w WHERE len(l) >= 2)
    SELECT base.doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_words - n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE)
               AS dup_word_frac,
           bstat.top_bigram_frac,
           bdg.bigram_digest
    FROM base JOIN bstat ON base.doc_id = bstat.doc_id
    JOIN bdg ON base.doc_id = bdg.doc_id
    """,
)
def doc_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per document: duplicate-word
    fraction and top-2-gram fraction (Rae et al. 2021's "fraction of
    characters in most common n-gram" family) — the filters that catch
    boilerplate and degenerate repetition.

    Everything is computed array-side inside one projection — ZERO
    shuffles, a pure narrow map over the scan, embarrassingly parallel at
    any corpus size.  dup_word_frac compares size vs array_distinct size;
    top_bigram_frac sorts the document's bigram array and fold-counts the
    longest equal run (equal bigrams are adjacent after the sort, so the
    max run length IS the max bigram multiplicity) — O(n log n) in
    document length, never in corpus size.  The explode → groupBy(doc, bg)
    → groupBy(doc) alternative costs two wide exchanges of the full token
    stream; documents with fewer than two words carry no bigram and are
    excluded (matching the oracle's inner join against the bigram
    groups)."""
    d = load(spark, sf_dir, "documents").select("doc_id", words_col().alias("_w"))
    bigrams = F.expr(
        "array_sort(transform(sequence(1, greatest(size(_w) - 1, 0)),"
        " i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1))))"
    )
    max_run = F.expr(
        "aggregate(_sb,"
        " named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x <=> acc.prev, acc.run + 1L, 1L),"
        "   'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))),"
        " acc -> acc.best)"
    )
    return (
        d.filter(F.size("_w") >= 2)
        .withColumn("_sb", bigrams)
        .select(
            "doc_id",
            F.size("_w").cast("long").alias("n_words"),
            (
                (F.size("_w") - F.size(F.array_distinct("_w"))).cast("double")
                / F.size("_w").cast("double")
            ).alias("dup_word_frac"),
            (max_run.cast("double") / F.size("_sb").cast("double")).alias(
                "top_bigram_frac"
            ),
            # content digest: the fractions above
            # could collide under a wrong-bigram bug; the sorted bigram
            # array's md5 pins the contents per doc (the _sb sort makes
            # it order-insensitive by construction).
            F.md5(F.concat_ws("\x1f", F.col("_sb"))).alias("bigram_digest"),
        )
    )


@query(
    "tfidf_top_terms",
    f"""
    WITH toks AS (SELECT doc_id, source, unnest({_WORDS}) AS w FROM documents),
    tf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    dfq AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT source, w AS word, tf, df,
               CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
        FROM tf JOIN dfq USING (w) CROSS JOIN n
    )
    SELECT source, word, tf, df, score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY score DESC, word) AS rn
        FROM scored
    ) WHERE rn <= 15
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Characteristic terms per source, ranked by tf·idf with a linear
    idf = N/df (a stated variant: log-damped idf would order some terms
    differently, but ln() differs in the last ulp across libms and would
    break the bit-exact oracle; N/df is an exact rational in both
    engines).

    Plan shape: one explode feeding two aggregates — per-(source, term)
    tf and per-term df (distinct doc_id, partial-distinct map-side) —
    joined with the term as key; df (|vocab| rows) broadcasts.  The
    per-source top-15 window ranks |vocab|·|sources| scored rows, hash-
    partitioned by source."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.explode(words_col()).alias("word"))
    tf = toks.groupBy("source", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfq = toks.groupBy("word").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfq), "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "source",
            "word",
            "tf",
            "df",
            (
                (F.col("tf") * F.col("n_docs")).cast("double")
                / F.col("df").cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .select("source", "word", "tf", "df", "score")
    )


@query(
    "doc_chunks_sliding",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS l FROM documents
               WHERE len({_WORDS}) >= 1),
    s AS (SELECT doc_id, l,
                 unnest(range(0, greatest(len(l) - 1, 0) + 1, 8)) AS start
          FROM w)
    SELECT doc_id,
           CAST(start // 8 AS BIGINT) AS chunk_idx,
           CAST(least(16, len(l) - start) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(l[start + 1 : start + 16], ' ')) AS chunk_hash
    FROM s
    WHERE least(16, len(l) - start) >= 1
    """,
)
def doc_chunks_sliding(spark, sf_dir):
    """Sliding-window document chunking (16-token windows, stride 8 = 50%
    overlap) — the retrieval / context-window prep step.  The window
    starts expand array-side (sequence + posexplode), each chunk is a
    slice of the already-tokenized array, and the content hash makes the
    oracle verify chunk CONTENT, not just counts.  A pure narrow map:
    zero shuffles at any corpus size; output rows ≈ corpus_tokens /
    stride."""
    # zero/NULL-token docs produce NO chunks, filtered BEFORE the window
    # expansion (r10, adversarial fixture): both engines' least() skips
    # NULL args, so a NULL-text doc otherwise flowed through as one
    # phantom "16-token" chunk with a NULL hash on BOTH sides — a
    # consistent wrong answer the oracle alone could never catch.
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", words_col().alias("_w"))
        .filter(F.size("_w") >= 1)
    )
    n = F.size("_w")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(8))
    return (
        d.select("doc_id", n.alias("_n"), "_w", F.posexplode(starts).alias("chunk_idx", "_start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.least(F.lit(16), F.col("_n") - F.col("_start"))
            .cast("long")
            .alias("n_chunk_tokens"),
            F.md5(
                F.array_join(F.slice("_w", F.col("_start") + 1, 16), " ")
            ).alias("chunk_hash"),
        )
        # zero-token docs produce NO chunks (r10, adversarial fixture:
        # Spark hashed the empty join '' while DuckDB's
        # array_to_string([]) is NULL — neither "chunk" is real work, so
        # both sides now drop it; NULL-text docs fall out the same way)
        .filter(F.col("n_chunk_tokens") >= 1)
    )


# --------------------------------------------------------------------- #
# r4 additions: statistical quality scoring + corpus-level dedup stats
# (the "is this worth training on" trio a large-scale pipeline runs
# after the heuristic filters: LM scoring, exact-substring duplication,
# DSIR-style importance weighting)
# --------------------------------------------------------------------- #


@query(
    "bigram_lm_source_scores",
    f"""
    WITH toks AS (SELECT doc_id, source, {_WORDS} AS ts FROM documents),
    bi AS (
        SELECT doc_id, source, ts[i] AS w1, ts[i+1] AS w2
        FROM toks, UNNEST(generate_series(1, len(ts) - 1)) u(i)
        WHERE len(ts) >= 2
    ),
    counts AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    firsts AS (SELECT w1, SUM(c) AS tot FROM counts GROUP BY 1),
    scored AS (
        SELECT b.doc_id, b.source, ln(c.c * 1.0 / f.tot) AS lp
        FROM bi b JOIN counts c USING (w1, w2) JOIN firsts f USING (w1)
    ),
    per_doc AS (
        SELECT doc_id, source, AVG(lp) AS alp FROM scored GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(alp), 6) AS avg_logp,
           ROUND(MIN(alp), 6) AS min_logp
    FROM per_doc GROUP BY source
    """,
)
def bigram_lm_source_scores(spark, sf_dir):
    """Bigram language-model quality scoring (perplexity family): fit
    P(w2|w1) = c(w1,w2)/c(w1·) on the corpus itself, score each doc by
    its mean bigram log-probability, aggregate per source — the
    CCNet-style "LM fluency" signal of a training-data pipeline.

    Scale shape: bigram construction is a NARROW per-row transform
    (``transform(sequence(...))`` over the token array — no shuffle, no
    posexplode self-join); the model is vocabulary²-bounded, so both
    model joins broadcast; the only corpus-sized shuffles are the
    model-fit groupBy and the per-doc aggregate.  At 100 TB the model is
    still MBs (natural-language bigram vocabularies), so the scoring
    pass stays shuffle-free."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", words_col().alias("ts")
    )
    bi = (
        d.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 2),"
                    " i -> struct(ts[i] AS w1, ts[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "source", "b.w1", "b.w2")
    )
    counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    firsts = counts.groupBy("w1").agg(F.sum("c").alias("tot"))
    scored = bi.join(F.broadcast(counts), ["w1", "w2"]).join(
        F.broadcast(firsts), "w1"
    )
    per_doc = (
        scored.withColumn("lp", F.log(F.col("c") / F.col("tot")))
        .groupBy("doc_id", "source")
        .agg(F.avg("lp").alias("alp"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("alp"), 6).alias("avg_logp"),
        F.round(F.min("alp"), 6).alias("min_logp"),
    )


@query(
    "repeated_ngram_stats",
    f"""
    WITH toks AS (SELECT doc_id, source, {_WORDS} AS ts FROM documents),
    ng AS (
        SELECT doc_id, source, array_to_string(ts[i : i + 5], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(ts) - 5)) u(i)
        WHERE len(ts) >= 6
    ),
    gstats AS (
        SELECT g, COUNT(DISTINCT doc_id) AS n_docs_with FROM ng GROUP BY g
    )
    SELECT ng.source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT ng.g) AS BIGINT) AS n_distinct,
           ROUND(AVG(CASE WHEN gs.n_docs_with > 1 THEN 1.0 ELSE 0.0 END), 6)
               AS crossdoc_share,
           CAST(SUM({hash32_sql("ng.g")}) AS BIGINT) AS gram_digest
    FROM ng JOIN gstats gs ON ng.g = gs.g
    GROUP BY ng.source
    """,
)
def repeated_ngram_stats(spark, sf_dir):
    """Exact-substring duplication audit (ExactSubstr-lite, the Lee et
    al. "Deduplicating Training Data Makes Language Models Better"
    shape): which share of each source's 6-gram occurrences also appears
    in ANOTHER document?  High cross-doc share = boilerplate / template
    contamination that exact doc-level dedup misses.

    Scale shape: n-gram construction is narrow (sequence+slice over the
    token array); the occurrence count is ONE shuffle keyed by the
    6-gram hash — the canonical scalable layout (no pairwise compare,
    no suffix array); the stats join shuffles on the same key so AQE
    co-partitions it."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", words_col().alias("ts")
    )
    ng = (
        d.filter(F.size("ts") >= 6)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ts) - 6),"
                    " i -> array_join(slice(ts, i + 1, 6), ' '))"
                )
            ).alias("g"),
        )
    )
    gstats = ng.groupBy("g").agg(
        F.count_distinct("doc_id").alias("n_docs_with")
    )
    return (
        ng.join(gstats, "g")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_distinct("g").alias("n_distinct"),
            F.round(
                F.avg(F.when(F.col("n_docs_with") > 1, 1.0).otherwise(0.0)), 6
            ).alias("crossdoc_share"),
            # content digest: the n-gram OCCURRENCE
            # multiset, not just its counts
            F.sum(hash32(F.col("g"))).alias("gram_digest"),
        )
    )


@query(
    "dsir_importance_weights",
    f"""
    WITH toks AS (
        SELECT doc_id, source, lang, UNNEST({_WORDS}) AS w FROM documents
    ),
    corpus AS (SELECT w, COUNT(*) AS cc FROM toks GROUP BY w),
    tgt AS (SELECT w, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY w),
    consts AS (
        SELECT (SELECT COUNT(*) FROM corpus) AS v,
               (SELECT SUM(cc) FROM corpus) AS nc,
               (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt
    ),
    wt AS (
        SELECT c.w,
               ln((COALESCE(t.ct, 0) + 1.0) / (k.nt + k.v))
                 - ln((c.cc + 1.0) / (k.nc + k.v)) AS lw
        FROM corpus c LEFT JOIN tgt t ON c.w = t.w CROSS JOIN consts k
    ),
    per_doc AS (
        SELECT toks.doc_id, toks.source, AVG(wt.lw) AS iw
        FROM toks JOIN wt ON toks.w = wt.w
        GROUP BY toks.doc_id, toks.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(iw), 6) AS avg_weight,
           CAST(SUM(CASE WHEN iw > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_target_like
    FROM per_doc GROUP BY source
    """,
)
def dsir_importance_weights(spark, sf_dir):
    """DSIR-style importance weighting (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): per-token
    log-likelihood ratio between a TARGET distribution (here: the
    English sub-corpus) and the full-corpus distribution, Laplace
    smoothing on both, averaged per document — docs with positive
    weight are "target-like" and would be up-sampled.

    Scale shape: both unigram models are vocabulary-bounded (broadcast);
    token explosion is narrow; the model fit is one shuffle keyed by
    word; scoring is a broadcast join + per-doc aggregate.  The
    smoothed-vocabulary constants are scalar aggregates (driver
    scalars, not collected rows)."""
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang", F.explode(words_col()).alias("w"))
    )
    corpus = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cc"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    # the model is vocabulary-bounded (tiny next to the corpus): persist
    # it so the corpus explode + two unigram-fit shuffles run ONCE — the
    # consts action below would otherwise re-materialize the whole
    # lineage again when wt is evaluated for scoring
    model = corpus.join(tgt, "w", "left").fillna({"ct": 0}).persist()
    consts = model.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("cc").alias("nc"),
        F.sum("ct").alias("nt"),
    ).first()
    v, nc, nt = int(consts["v"]), int(consts["nc"]), int(consts["nt"])
    wt = model.select(
        "w",
        (
            F.log((F.col("ct") + 1.0) / F.lit(float(nt + v)))
            - F.log((F.col("cc") + 1.0) / F.lit(float(nc + v)))
        ).alias("lw"),
    )
    per_doc = (
        toks.join(F.broadcast(wt), "w")
        .groupBy("doc_id", "source")
        .agg(F.avg("lw").alias("iw"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("iw"), 6).alias("avg_weight"),
        F.sum(F.when(F.col("iw") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_target_like"),
    )


# --------------------------------------------------------------------------- #
# PII detection / redaction.  A production training-data pipeline
# scrubs emails / phone numbers / IP addresses before anything reaches a
# tokenizer (C4 and Dolma both ship exactly this regex family).  The
# synthetic corpus contains no organic PII, so the query plants
# deterministic PII-shaped spans derived from (source, doc_id) — the
# detection + redaction logic then runs against non-trivial input and the
# oracle checks the REDACTED TEXT byte-for-byte via md5.  Pure JVM-side
# regexp_count / regexp_replace — zero Python, one shuffle (the final
# per-source aggregate).  Patterns stay in the Java∩RE2 common subset so
# Spark and DuckDB agree exactly.
# --------------------------------------------------------------------------- #

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b555-[0-9]{4}\b"
_PII_IP = r"\b10\.[0-9]{1,3}\.0\.[0-9]{1,3}\b"


def _md5_sig(col: Column) -> Column:
    """First 15 hex digits of md5 as a BIGINT (60 bits, overflow-free)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


@query(
    "pii_redaction_stats",
    f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                          AS n_docs,
           CAST(SUM(len(regexp_extract_all(aug, '{_PII_EMAIL}'))) AS BIGINT) AS emails,
           CAST(SUM(len(regexp_extract_all(aug, '{_PII_PHONE}'))) AS BIGINT) AS phones,
           CAST(SUM(len(regexp_extract_all(aug, '{_PII_IP}')))    AS BIGINT) AS ips,
           CAST(SUM(len(aug) - len(red)) AS BIGINT)          AS chars_removed,
           MIN(CAST(('0x' || substr(md5(red), 1, 15)) AS BIGINT)) AS min_red_sig,
           MAX(CAST(('0x' || substr(md5(red), 1, 15)) AS BIGINT)) AS max_red_sig,
           CAST(SUM({hash32_sql("red")}) AS BIGINT) AS sum_red_sig
    FROM (
        SELECT source,
               'contact ' || source || '.' || doc_id || '@example.com ph 555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                   || CAST((doc_id * 7) % 256 AS VARCHAR) || ' ' || text AS aug,
               regexp_replace(regexp_replace(regexp_replace(
                   'contact ' || source || '.' || doc_id || '@example.com ph 555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                       || CAST((doc_id * 7) % 256 AS VARCHAR) || ' ' || text,
                   '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g'),
                   '{_PII_IP}', '<IP>', 'g') AS red
        FROM documents
    ) GROUP BY source
    """,
)
def pii_redaction_stats(spark, sf_dir):
    """PII scrub: detect + redact emails / phones / IPv4 and account for
    what was removed, per source.  Redaction is three chained
    ``regexp_replace`` calls inside whole-stage codegen; the md5 columns
    pin the redacted bytes exactly (not just the counts)."""
    aug = F.concat(
        F.lit("contact "), F.col("source"), F.lit("."), F.col("doc_id"),
        F.lit("@example.com ph 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" "), F.col("text"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>",
        ),
        _PII_IP, "<IP>",
    )
    return (
        load(spark, sf_dir, "documents")
        .select(
            "source",
            aug.alias("aug"),
            red.alias("red"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.regexp_count(F.col("aug"), F.lit(_PII_EMAIL))).alias("emails"),
            F.sum(F.regexp_count(F.col("aug"), F.lit(_PII_PHONE))).alias("phones"),
            F.sum(F.regexp_count(F.col("aug"), F.lit(_PII_IP))).alias("ips"),
            F.sum(F.length("aug") - F.length("red")).alias("chars_removed"),
            # 60-bit md5 prefix as BIGINT: numeric min/max keeps the
            # aggregate buffer fixed-width, so Spark plans HashAggregate
            # (map-side partials) instead of the string-buffer
            # SortAggregate fallback — the cheap plan at corpus scale.
            F.min(_md5_sig(F.col("red"))).alias("min_red_sig"),
            F.max(_md5_sig(F.col("red"))).alias("max_red_sig"),
            # min/max pin only two rows per group;
            # the 32-bit SUM pins every redacted doc's contents.
            F.sum(hash32(F.col("red"))).alias("sum_red_sig"),
        )
    )


# --------------------------------------------------------------------------- #
# Gopher-style quality rule suite.  The Gopher / MassiveText cleaning
# rules (word-count band, mean-word-length band, alphabetic-word ratio,
# minimum stopword evidence) as independent per-doc flags, aggregated to a
# per-source rule report — the "why was this doc dropped" accounting view a
# curation pipeline needs before committing to a filter.  All native
# expressions; bounds are tuned to the synthetic corpus so every rule
# discriminates (word counts span 10–99, mean word length 3.7–5.3).
# --------------------------------------------------------------------------- #

@query(
    "gopher_quality_rules",
    f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r_wc THEN 1 ELSE 0 END) AS BIGINT) AS pass_word_count,
           CAST(SUM(CASE WHEN r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS pass_mean_word_len,
           CAST(SUM(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha_ratio,
           CAST(SUM(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopwords,
           CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all,
           ROUND(CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_alpha AND r_stop
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS pass_rate
    FROM (
        SELECT source,
               len(string_split(text, ' ')) BETWEEN 30 AND 10000 AS r_wc,
               CAST(list_sum(list_transform(string_split(text, ' '), w -> len(w)))
                    AS DOUBLE) / len(string_split(text, ' '))
                    BETWEEN 3.0 AND 4.6 AS r_mwl,
               CAST(len(list_filter(string_split(text, ' '),
                        w -> regexp_matches(w, '^[A-Za-z]+$'))) AS DOUBLE)
                    / len(string_split(text, ' ')) >= 0.8 AS r_alpha,
               len(list_filter(string_split(text, ' '),
                   w -> list_contains({_STOP_SQL}, w))) >= 2 AS r_stop
        FROM documents
    ) GROUP BY source
    """,
)
def gopher_quality_rules(spark, sf_dir):
    """Gopher/MassiveText rule flags per doc, rolled up per source: how
    many docs pass each rule and all rules together.  Scan-side map work
    only — the single shuffle is the 20-group aggregate."""
    w = tokens_col()
    n_words = F.size(w)
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_wl = sum_len.cast("double") / n_words
    alpha_ratio = (
        F.size(F.filter(w, lambda x: x.rlike("^[A-Za-z]+$"))).cast("double")
        / n_words
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x)))
    flags = load(spark, sf_dir, "documents").select(
        "source",
        n_words.between(30, 10000).alias("r_wc"),
        mean_wl.between(3.0, 4.6).alias("r_mwl"),
        (alpha_ratio >= 0.8).alias("r_alpha"),
        (n_stop >= 2).alias("r_stop"),
    )
    all_pass = F.col("r_wc") & F.col("r_mwl") & F.col("r_alpha") & F.col("r_stop")
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        one(F.col("r_wc")).alias("pass_word_count"),
        one(F.col("r_mwl")).alias("pass_mean_word_len"),
        one(F.col("r_alpha")).alias("pass_alpha_ratio"),
        one(F.col("r_stop")).alias("pass_stopwords"),
        one(all_pass).alias("pass_all"),
        F.round(
            F.sum(F.when(all_pass, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("pass_rate"),
    )


# --------------------------------------------------------------------------- #
# Token-budget mixture planner.  Dolma-style mixing: given a corpus
# token budget and per-source mixing weights (uniform here), compute each
# source's sampling rate, planned token yield, and epoch factor
# (rate > 1 ⇒ the source must be up-sampled / repeated to hit its
# allocation).  Two tiny aggregates + a window total — the output is one
# row per source, so at 100 TB this is a metadata query regardless of
# corpus size.
# --------------------------------------------------------------------------- #

_MIX_BUDGET_TOKENS = 200_000


@query(
    "token_budget_mixture",
    f"""
    SELECT source,
           CAST(tokens_s AS BIGINT) AS source_tokens,
           ROUND(CAST({_MIX_BUDGET_TOKENS} AS DOUBLE) / n_sources / tokens_s, 6)
               AS epoch_factor,
           ROUND(LEAST(1.0, CAST({_MIX_BUDGET_TOKENS} AS DOUBLE) / n_sources
               / tokens_s), 6) AS sample_rate,
           CAST(ROUND(LEAST(1.0, CAST({_MIX_BUDGET_TOKENS} AS DOUBLE) / n_sources
               / tokens_s) * tokens_s, 0) AS BIGINT) AS planned_tokens
    FROM (
        SELECT source,
               SUM(len(string_split(text, ' '))) AS tokens_s,
               COUNT(*) OVER () AS n_sources
        FROM documents GROUP BY source
    )
    """,
)
def token_budget_mixture(spark, sf_dir):
    """Per-source sampling plan for a fixed token budget with uniform
    mixing weights: rate = min(1, budget/n_sources/source_tokens)."""
    from pyspark.sql import Window

    per_source = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(tokens_col())).alias("tokens_s"))
        .withColumn("n_sources", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    alloc = F.lit(float(_MIX_BUDGET_TOKENS)) / F.col("n_sources") / F.col("tokens_s")
    rate = F.least(F.lit(1.0), alloc)
    return per_source.select(
        "source",
        F.col("tokens_s").cast("long").alias("source_tokens"),
        F.round(alloc, 6).alias("epoch_factor"),
        F.round(rate, 6).alias("sample_rate"),
        F.round(rate * F.col("tokens_s"), 0).cast("long").alias("planned_tokens"),
    )


# --------------------------------------------------------------------------- #
# BM25 lexical retrieval.  The lexical half of a hybrid RAG retrieval
# stack, complementing the ANN family in operators/similarity.py.  Corpus
# statistics (N, avgdl, per-term df) are tiny aggregates that BROADCAST;
# term frequencies are computed only for the query terms (the explode is
# filtered before the shuffle); the final top-k is ORDER BY + LIMIT, which
# Spark plans as TakeOrderedAndProject (per-partition heaps + driver merge
# — no global sort at any scale).  Scores are rounded to 6dp on both
# engines before ranking so cross-engine libm ULP differences in ln()
# cannot flip the ordering; ties break on doc_id.
# --------------------------------------------------------------------------- #

_BM25_TERMS = ["spark", "join", "window"]
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10


@query(
    "bm25_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dlen FROM documents),
    corpus AS (
        SELECT COUNT(*) AS n_docs, AVG(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ),
    df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks
        WHERE word IN ('spark', 'join', 'window') GROUP BY word
    ),
    tf AS (
        SELECT doc_id, word, COUNT(*) AS tf FROM toks
        WHERE word IN ('spark', 'join', 'window') GROUP BY doc_id, word
    )
    SELECT doc_id, score FROM (
        SELECT tf.doc_id,
               ROUND(SUM(
                   ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * tf.tf * ({_BM25_K1} + 1.0)
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                        + {_BM25_B} * dl.dlen / corpus.avgdl))
               ), 6) AS score
        FROM tf
        JOIN df USING (word)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN corpus
        GROUP BY tf.doc_id
    ) ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def bm25_topk(spark, sf_dir):
    """BM25 top-k for a fixed query term set over ``documents``."""
    d = load(spark, sf_dir, "documents")
    words = tokens_col()
    dl = d.select("doc_id", F.size(words).alias("dlen"))
    corpus = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(words)).alias("avgdl"),
    )
    toks = d.select("doc_id", F.explode(words).alias("word")).filter(
        F.col("word").isin(_BM25_TERMS)
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # df derives from tf (one row per containing doc), saving a second
    # corpus scan — at 100 TB the explode+filter pass dominates this query.
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (_BM25_K1 + 1.0) / denom
    return (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


# --------------------------------------------------------------------------- #
# Hybrid retrieval fusion.  Reciprocal-rank fusion of the BM25
# lexical ranking with a deterministic second ranking — the standard way
# a RAG stack combines lexical and semantic retrievers without score
# calibration.  Here the second ranker is recency (doc_id desc) so the
# whole fusion is exactly reproducible in the oracle; swapping in the
# ANN cosine ranking is the same shape (rank column + join).  Both
# rankings are top-k bounded BEFORE the fusion join, so the fusion cost
# is O(k), independent of corpus size.
# --------------------------------------------------------------------------- #

_RRF_K = 60  # the standard RRF damping constant
_RRF_TOPK = 10
_RRF_POOL = 50  # per-ranker candidate pool


@query(
    "hybrid_rrf_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dlen FROM documents),
    corpus AS (
        SELECT COUNT(*) AS n_docs, AVG(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, word, COUNT(*) AS tf FROM toks
        WHERE word IN ('spark', 'join', 'window') GROUP BY doc_id, word
    ),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    bm25 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
        FROM (
            SELECT tf.doc_id,
                   ROUND(SUM(
                       ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                       * tf.tf * ({_BM25_K1} + 1.0)
                       / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                            + {_BM25_B} * dl.dlen / corpus.avgdl))
                   ), 6) AS score
            FROM tf JOIN df USING (word)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN corpus GROUP BY tf.doc_id
        ) ORDER BY r LIMIT {_RRF_POOL}
    ),
    recency AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id DESC) AS r
        FROM (SELECT DISTINCT doc_id FROM tf)
        ORDER BY r LIMIT {_RRF_POOL}
    )
    SELECT doc_id,
           ROUND(COALESCE(1.0 / ({_RRF_K} + b.r), 0)
                 + COALESCE(1.0 / ({_RRF_K} + c.r), 0), 9) AS rrf_score
    FROM bm25 b FULL OUTER JOIN recency c USING (doc_id)
    ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOPK}
    """,
)
def hybrid_rrf_topk(spark, sf_dir):
    """RRF fusion of the BM25 ranking with a recency ranking over the
    same candidate set."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    words = tokens_col()
    dl = d.select("doc_id", F.size(words).alias("dlen"))
    corpus = d.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size(words)).alias("avgdl")
    )
    toks = d.select("doc_id", F.explode(words).alias("word")).filter(
        F.col("word").isin(_BM25_TERMS)
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * (_BM25_K1 + 1.0) / denom), 6).alias("score"))
    )
    bm25 = (
        scored.withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col("doc_id"))
            ),
        )
        .filter(F.col("r") <= _RRF_POOL)
        .select("doc_id", "r")
    )
    recency = (
        tf.select("doc_id")
        .distinct()
        .withColumn(
            "r", F.row_number().over(Window.orderBy(F.col("doc_id").desc()))
        )
        .filter(F.col("r") <= _RRF_POOL)
    )
    fused = (
        bm25.withColumnRenamed("r", "rb")
        .join(recency.withColumnRenamed("r", "rc"), "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rc")), F.lit(0.0)),
                9,
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(_RRF_TOPK)
