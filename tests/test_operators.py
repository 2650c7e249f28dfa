"""Unit tests for the data-pipeline operator APIs (generic entry points,
not just the driver-gate queries)."""

import pytest
from pyspark.sql import functions as F

from fstore_sql_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (4, "completely different content about spark engines"),
        (5, "short doc"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_lsh_finds_planted_dups(docs):
    sigs = dedup.minhash_signatures(docs)
    assert sigs.count() == 5
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs  # exact dup always collides on every band
    assert all(a < b for a, b in pairs)


def test_prefix_filter_max_df_stoplist(spark):
    """r10: the PPJoin stop-list lever.  With max_df=None the planted
    dup pairs; with a bound below its prefix shingles' document
    frequency, the pair whose ONLY shared prefix shingle is stop-listed
    is missed (the documented recall trade), and the survivor set is a
    subset of the exact result."""
    # 6 identical docs: every shingle has df=6, so max_df=5 stop-lists
    # ALL prefix shingles and no candidates form; max_df=None finds all
    # 15 pairs.  Two unique docs never pair either way.
    rows = [(i, "alpha beta gamma delta epsilon") for i in range(6)]
    rows += [(10, "one two three four five"), (11, "unrelated text entirely here now")]
    docs6 = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {(r["doc_a"], r["doc_b"])
             for r in dedup.prefix_filter_pairs(docs6).collect()}
    assert len(exact) == 15  # C(6,2) identical-doc pairs
    pruned = {(r["doc_a"], r["doc_b"])
              for r in dedup.prefix_filter_pairs(docs6, max_df=5).collect()}
    assert pruned == set()  # every prefix shingle exceeded the bound
    # a bound ABOVE every prefix df changes nothing
    same = {(r["doc_a"], r["doc_b"])
            for r in dedup.prefix_filter_pairs(docs6, max_df=6).collect()}
    assert same == exact


def test_jaccard_verify_scores(docs):
    cands = docs.sparkSession.createDataFrame(
        [(1, 2), (1, 4)], ["doc_a", "doc_b"]
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_verify(docs, cands, threshold=0.0).collect()
    }
    assert out[(1, 2)] == 1.0  # identical docs
    assert (1, 4) not in out or out[(1, 4)] < 0.1  # disjoint shingles


def test_simhash_identical_docs_collide(docs):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert out[1] == out[2]
    assert out[1] != out[4]
    # near-dup within small hamming distance
    ham = bin(out[1] ^ out[3]).count("1")
    assert ham <= 10


def test_cosine_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),  # opposite
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.topk_bruteforce(emb, emb.filter("vec_id = 1"), k=2)
    got = [r["vec_id"] for r in out.collect()]
    assert got == [2, 3]


def test_dot_expand_bit_identical_to_fold(spark):
    """The unrolled pair-dot (r14 opt: `dot(..., expand=d)`) must produce
    the bit-identical double of the aggregate/zip_with left-fold on every
    input class: the guarded width (codegen'd expansion path), any OTHER
    width (fold fallback via the size guard), mismatched widths, a NULL
    element (propagates through +), and a zero vector."""
    import math
    import struct

    d = similarity._PAIR_DOT_DIM
    vec = [math.sin(i * 0.7) * 1e3 for i in range(d)]  # non-trivial doubles
    rows = [
        (1, vec, [math.cos(i * 0.3) for i in range(d)]),          # expansion path
        (2, vec[:10], [float(i) for i in range(10)]),             # non-guard width
        (3, vec, vec[:d - 1]),                                    # mismatched widths
        (4, vec[:5] + [None] + vec[6:], vec),                     # NULL element
        (5, [0.0] * d, vec),                                      # zero vector
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = df.select(
        "id",
        similarity.dot(F.col("a"), F.col("b")).alias("fold"),
        similarity.dot(F.col("a"), F.col("b"), expand=d).alias("exp"),
    ).collect()
    for r in out:
        if r["fold"] is None:
            assert r["exp"] is None, r
        else:
            assert struct.pack("<d", r["fold"]) == struct.pack("<d", r["exp"]), r


def test_neardup_raw_threshold_equivalent_to_round(spark):
    """embedding_neardup_pairs (r14 opt) replaces the pushed-down
    ``round(sim, 6) >= 0.995`` join predicate with the raw compare
    ``sim >= 0.9949995``.  Spark's Round(double, 6) is the HALF_UP
    rounding of BigDecimal.valueOf(x) — a monotone map — so the two
    predicates agree everywhere iff they agree on the doubles bracketing
    the decimal boundary 0.9949995.  Sweep the 400 adjacent doubles
    around the boundary (plus NaN/±Inf/NULL and far values) through
    Spark's OWN Round and assert predicate equality row by row."""
    import math

    vals: list[tuple[float | None]] = [(None,), (float("nan",),)][:1]
    vals = [(None,), (float("nan"),), (float("inf"),), (float("-inf"),),
            (0.0,), (1.0,), (0.9,), (0.994,), (0.996,)]
    x = 0.9949995
    for _ in range(200):
        x = math.nextafter(x, 0.0)
    for _ in range(400):
        vals.append((x,))
        x = math.nextafter(x, 2.0)
    df = spark.createDataFrame(vals, "x double")
    out = df.select(
        "x",
        (F.round(F.col("x"), 6) >= 0.995).alias("rounded"),
        (F.col("x") >= F.lit(0.9949995)).alias("raw"),
    ).collect()
    for r in out:
        assert r["rounded"] == r["raw"], (r["x"], r["rounded"], r["raw"])
    # and the boundary itself behaves as documented
    b = [r for r in out if r["x"] == 0.9949995]
    assert b and b[0]["raw"] is True and b[0]["rounded"] is True


def test_multimodal_feature_extraction(spark):
    rows = [(1, "image", bytearray(b"payload-one")), (2, "image", bytearray(b"payload-two"))]
    media = spark.createDataFrame(rows, "media_id long, kind string, payload binary")
    out = multimodal.extract_features(media).collect()
    assert len(out) == 2
    by_id = {r["media_id"]: r for r in out}
    assert by_id[1]["n_bytes"] == len(b"payload-one")
    assert len(by_id[1]["feature"]) == multimodal.FEATURE_DIM
    assert all(0.0 <= f < 1.0 for f in by_id[1]["feature"])
    # deterministic across invocations
    again = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    assert again[1] == by_id[1]["feature"]


def test_multimodal_decode_bmp_roundtrip(spark):
    # decode_image is REAL since round 2 (pure-Python BMP codec through
    # mapInPandas): a tiny 2x2 raster must round-trip exactly — dims and
    # per-channel sums recomputed from the source bytes.
    rgb = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    payload = multimodal.encode_bmp(rgb, 2, 2)
    media = spark.createDataFrame(
        [(1, "image", bytearray(payload))],
        "media_id long, kind string, payload binary",
    )
    row = multimodal.decode_image(media).collect()[0]
    assert (row["width"], row["height"]) == (2, 2)
    assert row["sum_r"] == sum(rgb[0::3])
    assert row["sum_g"] == sum(rgb[1::3])
    assert row["sum_b"] == sum(rgb[2::3])


def test_frame_sample_grid(spark):
    rows = [(1, "video", bytearray(b"x"), None, None, None, 3500)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.frame_sample(media, every_ms=1000).collect()
    assert [(r["frame_idx"], r["ts_ms"]) for r in out] == [(0, 0), (1, 1000), (2, 2000)]


class TestSkewOperators:
    def test_salted_join_matches_plain_join(self, spark, sf_dir):
        from fstore_sql_spark.operators.skew import salted_join
        from fstore_sql_spark.queries import load

        l = load(spark, sf_dir, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        ).select("o_orderkey", "l_extendedprice")
        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        plain = l.join(o, "o_orderkey").count()
        salted = salted_join(l, o, on="o_orderkey", n=4).count()
        assert plain == salted

    def test_salted_join_splits_hot_key(self, spark):
        from pyspark.sql import functions as F

        from fstore_sql_spark.operators.skew import salted_join

        # one hot key with 1000 rows
        left = spark.range(1000).select(
            F.lit(1).alias("k"), F.col("id").alias("payload")
        )
        right = spark.createDataFrame([(1, "x")], ["k", "v"])
        out = salted_join(left, right, on="k", n=4)
        assert out.count() == 1000
        # the salt spreads the hot key over >1 distinct salt value
        n_salts = (
            left.withColumn(
                "_salt", F.pmod(F.xxhash64("k", "payload"), F.lit(4))
            )
            .select("_salt")
            .distinct()
            .count()
        )
        assert n_salts > 1

    def test_salted_join_hot_matches_plain_join(self, spark):
        """r8 (sf100 audit): hot-key-TARGETED salting — only hot keys pay
        salt-and-replicate; results identical to the plain join for
        inner and left joins, including unmatched-left rows."""
        from pyspark.sql import functions as F

        from fstore_sql_spark.operators.skew import salted_join_hot

        # key 1 is hot (500 rows), keys 2-40 cold, keys 90+ unmatched
        left = spark.range(500).select(
            F.lit(1).alias("k"), F.col("id").alias("payload")
        ).unionByName(
            spark.range(2, 41).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("payload")
            )
        ).unionByName(
            spark.range(90, 95).select(
                F.col("id").alias("k"), F.lit(-1).alias("payload")
            )
        )
        right = spark.range(1, 61).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        for how in ("inner", "left"):
            plain = left.join(right, "k", how)
            hot = salted_join_hot(left, right, on="k", hot_keys=[1], n=4, how=how)
            assert sorted(map(tuple, plain.collect())) == sorted(
                map(tuple, hot.collect())
            ), how
        # empty hot list degenerates to the plain join
        assert (
            salted_join_hot(left, right, on="k", hot_keys=[], n=4).count()
            == left.join(right, "k").count()
        )

    def test_salted_join_hot_null_keys_take_cold_branch(self, spark):
        """ADVICE r8 (high): a NULL join key makes ``isin`` NULL, so both
        ``filter(is_hot)`` and ``filter(~is_hot)`` would drop the row —
        silently losing left rows a plain LEFT join preserves.  NULL keys
        must route to the cold branch: preserved-with-NULL-right on
        'left', dropped on 'inner', exactly like the plain join."""
        from pyspark.sql import functions as F

        from fstore_sql_spark.operators.skew import salted_join_hot

        left = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20), (None, 30), (None, 31), (99, 40)],
            "k int, payload int",
        )
        right = spark.createDataFrame(
            [(1, 100), (2, 200), (None, 300)], "k int, v int"
        )
        for how in ("inner", "left"):
            plain = left.join(right, "k", how)
            hot = salted_join_hot(left, right, on="k", hot_keys=[1], n=4, how=how)
            key = lambda r: tuple(-1e18 if x is None else x for x in r)
            assert sorted(map(tuple, plain.collect()), key=key) == sorted(
                map(tuple, hot.collect()), key=key
            ), how
        # the NULL-key left rows specifically survive the left join
        out = salted_join_hot(left, right, on="k", hot_keys=[1], n=4, how="left")
        null_rows = out.filter(F.col("k").isNull()).collect()
        assert len(null_rows) == 2 and all(r["v"] is None for r in null_rows)

    def test_profile_hot_keys_verdict(self, spark):
        """r10 (VERDICT r9 #2): the profile step DECIDES — it returns
        only keys whose estimated full-table row count exceeds the
        shuffle-task budget, and an empty list on uniform data (so the
        flagship recipe degenerates to the vanilla join instead of
        salting 16 arbitrary keys)."""
        from pyspark.sql import functions as F

        from fstore_sql_spark.operators.skew import profile_hot_keys

        # uniform: 5k keys x 2 rows — nothing remotely near any budget
        uniform = spark.range(10_000).select(
            (F.col("id") % 5_000).alias("k")
        )
        assert profile_hot_keys(uniform, "k", hot_rows_budget=1_000) == []

        # planted skew: key 7 carries 50k rows, 1k cold keys carry 10 each
        hot = spark.range(50_000).select(F.lit(7).alias("k"))
        cold = spark.range(10_000).select((F.col("id") % 1_000 + 100).alias("k"))
        skewed = hot.unionByName(cold)
        # budget 10k rows/key: only key 7's estimate (~50k) qualifies
        got = profile_hot_keys(skewed, "k", hot_rows_budget=10_000)
        assert got == [7], got
        # a budget above the hot key's size nominates nothing
        assert profile_hot_keys(skewed, "k", hot_rows_budget=200_000) == []

    def test_salted_join_hot_replicates_only_hot_rows(self, spark):
        """The point of the targeted form: the replicated build side is
        n x |hot ∩ right| rows, not n x |right|."""
        from pyspark.sql import functions as F

        from fstore_sql_spark.operators.skew import salted_join_hot  # noqa: F401

        right = spark.range(1, 1001).select(F.col("id").alias("k"))
        rep = right.filter(F.col("k").isin([7])).withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(7)))
        )
        assert rep.count() == 8  # 8 x 1 hot row, vs 8000 for full-salt

    def test_salted_join_hot_rejects_outer(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from fstore_sql_spark.operators.skew import salted_join_hot

        df = spark.range(3).select(F.col("id").alias("k"))
        with _pytest.raises(ValueError, match="inner/left"):
            salted_join_hot(df, df, on="k", hot_keys=[1], how="outer")

    def test_two_phase_topk_grouped(self, spark, sf_dir):
        from fstore_sql_spark.operators.skew import two_phase_topk
        from fstore_sql_spark.queries import load

        o = load(spark, sf_dir, "orders")
        got = two_phase_topk(o, "o_totalprice", 2, partition_col="o_orderpriority")
        # ≤2 rows per group, and each group's rows are its true max-2
        from pyspark.sql import functions as F

        counts = got.groupBy("o_orderpriority").count().collect()
        assert all(r["count"] <= 2 for r in counts)
        top1 = {
            r["o_orderpriority"]: r["m"]
            for r in o.groupBy("o_orderpriority").agg(F.max("o_totalprice").alias("m")).collect()
        }
        got_max = {
            r["o_orderpriority"]: r["m"]
            for r in got.groupBy("o_orderpriority").agg(F.max("o_totalprice").alias("m")).collect()
        }
        assert got_max == top1


class TestConnectedComponents:
    def test_chain_triangle_and_isolated_pair(self, spark):
        from fstore_sql_spark.operators.dedup import connected_components

        # chain 1-2-3-4, triangle 10-11-12 (+ edge), pair 20-21
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
            ["doc_a", "doc_b"],
        )
        got = {
            r["doc_id"]: r["cluster"]
            for r in connected_components(pairs).collect()
        }
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1,
            10: 10, 11: 10, 12: 10,
            20: 20, 21: 20,
        }


class TestSampling:
    def test_split_disjoint_exhaustive_stable(self, spark, sf_dir):
        from fstore_sql_spark.operators.sampling import train_test_split
        from fstore_sql_spark.queries import load

        d = load(spark, sf_dir, "documents")
        train, test = train_test_split(d, "doc_id", test_rate=0.2)
        n, ntr, nte = d.count(), train.count(), test.count()
        assert ntr + nte == n  # exhaustive
        assert train.join(test, "doc_id", "inner").count() == 0  # disjoint
        # stable: same membership on recompute
        test_ids = sorted(r["doc_id"] for r in test.select("doc_id").collect())
        _, test2 = train_test_split(d, "doc_id", test_rate=0.2)
        assert sorted(r["doc_id"] for r in test2.select("doc_id").collect()) == test_ids
        # rate roughly honored
        assert 0.1 < nte / n < 0.3


class TestApproxAccuracy:
    """Approximate aggregates vs exact ground truth — the sketches are
    rows-only at the driver gate (their values aren't SQL-portable), so
    accuracy is pinned HERE instead."""

    def test_approx_count_distinct_within_5pct(self, spark, sf_dir):
        from fstore_sql_spark.queries import load

        e = load(spark, sf_dir, "events")
        exact, approx = (
            e.agg(
                F.count_distinct("user_id").alias("x"),
                F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
            )
            .collect()[0][0:2]
        )
        assert abs(approx - exact) / exact < 0.05, (exact, approx)

    def test_approx_percentile_within_tolerance(self, spark, sf_dir):
        from fstore_sql_spark.queries import load

        e = load(spark, sf_dir, "events")
        row = e.agg(
            F.percentile("value", F.lit(0.5)).alias("exact"),
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("approx"),
        ).collect()[0]
        # percentile_approx guarantees rank error <= n/accuracy; with
        # accuracy=10k the value error on this distribution stays small.
        assert abs(row["approx"] - row["exact"]) <= 0.05 * abs(row["exact"]), row


class TestIvfRecall:
    def test_ivf_topk_recall_vs_bruteforce(self, spark, sf_dir):
        """IVF probes a subset of cells, so its top-k may miss true
        neighbors; pin recall >= 0.6 (spherical k-means, nprobe=5) so
        quantizer regressions surface.  (Brute force is the
        oracle-checked ground truth.)"""
        from fstore_sql_spark.operators.similarity import (
            build_ivf_index,
            ivf_topk,
            topk_bruteforce,
        )
        from fstore_sql_spark.queries import QUERIES, load

        emb = load(spark, sf_dir, "embeddings")
        bf = topk_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=5)
        bf_ids = [r["vec_id"] for r in bf.select("vec_id").collect()]
        assert bf_ids, "brute-force top-k returned nothing"
        assigned, centroids = build_ivf_index(emb, k=8)
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
        ivf = ivf_topk(
            assigned.filter(F.col("vec_id") != 0), centroids, qvec, k=5, nprobe=5
        )
        ivf_ids = {r["vec_id"] for r in ivf.select("vec_id").collect()}
        recall = len(set(bf_ids) & ivf_ids) / len(bf_ids)
        assert recall >= 0.6, recall
        # the registry query folds this contract into its oracle row
        row = QUERIES["ann_ivf_kmeans_topk"](spark, sf_dir).collect()[0]
        assert row["recall_ok"] is True
        assert row["bf_top1"] == bf_ids[0]


class TestAqeSkewJoin:
    def test_aqe_splits_skewed_partition(self, spark):
        """Runtime posture check: with a hot key on both join sides, AQE's
        skew-join rewrite must split the oversized partition (the salting
        operator is the manual fallback; AQE is the default path the
        session config promises)."""
        conf = spark.conf
        saved = {
            k: conf.get(k)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            )
        }
        try:
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
            )
            conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
            conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            # left: half the rows pile onto key 0; right: unique keys, so
            # the join fans nothing out — the hot PARTITION is purely a
            # left-side size problem, exactly what AQE splits.
            # incompressible pads: shuffle sizes are post-compression, and
            # a constant pad compresses to nothing, hiding the skew.
            left = spark.range(0, 300_000).select(
                F.when(F.col("id") % 2 == 0, F.lit(0))
                .otherwise(F.col("id"))
                .alias("k"),
                F.concat(F.md5(F.col("id").cast("string")),
                         F.md5((F.col("id") + 1).cast("string"))).alias("pad"),
            )
            right = spark.range(0, 300_000).select(
                F.col("id").alias("k"), F.lit("y").alias("tag")
            )
            joined = left.join(right, "k")
            # materialize THIS Dataset: its QueryExecution retains the
            # adaptively re-planned final physical plan (count() would
            # build and execute a different one).
            assert len(joined.collect()) == 300_000
            final_plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in final_plan
            assert "skew=true" in final_plan, final_plan[:2000]
        finally:
            for k, v in saved.items():
                conf.set(k, v)


class TestPIIAndQualityRules:
    """r4 curation additions: PII redaction, Gopher rules, mixture plan."""

    def test_pii_redaction_removes_planted_spans(self, spark, sf_dir):
        from fstore_sql_spark.operators.text import pii_redaction_stats

        out = pii_redaction_stats(spark, sf_dir).collect()
        assert len(out) == 20  # one row per source
        for r in out:
            # every doc gets exactly one planted email/phone/IP
            assert r["emails"] == r["n_docs"]
            assert r["phones"] == r["n_docs"]
            assert r["ips"] == r["n_docs"]
            assert r["chars_removed"] > 0

    def test_pii_redacted_text_has_no_matches_left(self, spark, sf_dir):
        from fstore_sql_spark.operators import text as t

        df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
        aug = F.concat(
            F.lit("contact "), F.col("source"), F.lit("."), F.col("doc_id"),
            F.lit("@example.com ph 555-0042 ip 10.1.0.2 "), F.col("text"),
        )
        red = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(aug, t._PII_EMAIL, "<EMAIL>"),
                t._PII_PHONE, "<PHONE>",
            ),
            t._PII_IP, "<IP>",
        )
        leftover = df.select(
            F.sum(F.regexp_count(red, F.lit(t._PII_EMAIL))).alias("e"),
            F.sum(F.regexp_count(red, F.lit(t._PII_PHONE))).alias("p"),
            F.sum(F.regexp_count(red, F.lit(t._PII_IP))).alias("i"),
        ).first()
        assert (leftover["e"], leftover["p"], leftover["i"]) == (0, 0, 0)

    def test_gopher_rules_discriminate(self, spark, sf_dir):
        from fstore_sql_spark.operators.text import gopher_quality_rules

        rows = gopher_quality_rules(spark, sf_dir).collect()
        total = sum(r["n_docs"] for r in rows)
        wc = sum(r["pass_word_count"] for r in rows)
        mwl = sum(r["pass_mean_word_len"] for r in rows)
        allp = sum(r["pass_all"] for r in rows)
        # each rule must actually reject something AND keep something
        assert 0 < wc < total
        assert 0 < mwl < total
        assert 0 < allp <= min(wc, mwl)
        for r in rows:
            assert 0.0 <= r["pass_rate"] <= 1.0

    def test_token_budget_mixture_caps_rates(self, spark, sf_dir):
        from fstore_sql_spark.operators.text import token_budget_mixture

        rows = token_budget_mixture(spark, sf_dir).collect()
        assert len(rows) == 20
        for r in rows:
            assert 0.0 < r["sample_rate"] <= 1.0
            assert r["planned_tokens"] <= r["source_tokens"]
            # epoch_factor is the uncapped allocation ratio
            assert r["epoch_factor"] >= r["sample_rate"] - 1e-9


class TestIncrementalDedupAndLeakage:
    def test_incremental_batch_finds_its_base_copy(self, spark, sf_dir):
        from fstore_sql_spark.operators.dedup import (
            _SHIFT,
            dedup_incremental_batch,
        )

        rows = dedup_incremental_batch(spark, sf_dir).collect()
        assert len(rows) == 25
        for r in rows:
            # each planted doc is an exact copy of (new_doc_id - _SHIFT)
            assert r["n_exact"] >= 1
            assert r["n_near"] >= 1
            assert r["first_match"] <= r["new_doc_id"] - _SHIFT

    def test_split_leakage_counts_planted_straddlers(self, spark, sf_dir):
        from fstore_sql_spark.operators.dedup import split_leakage_audit

        row = split_leakage_audit(spark, sf_dir).first()
        assert row["dup_groups"] >= 25  # at least the planted copies
        assert 0 <= row["leaky_groups"] <= row["dup_groups"]
        assert row["leaked_test_docs"] >= row["leaky_groups"] * 0  # non-negative


class TestRetrievalFusionAndSafeSplit:
    def test_hybrid_rrf_contains_bm25_head(self, spark, sf_dir):
        from fstore_sql_spark.operators.text import bm25_topk, hybrid_rrf_topk

        rrf = [r["doc_id"] for r in hybrid_rrf_topk(spark, sf_dir).collect()]
        assert len(rrf) == 10
        bm = [r["doc_id"] for r in bm25_topk(spark, sf_dir).collect()]
        # fusion with a second ranker reorders, but the BM25 #1 doc must
        # survive into the fused top-10 (rank 1 dominates 1/(60+r))
        assert bm[0] in rrf

    def test_cluster_safe_split_has_zero_leaks(self, spark, sf_dir):
        from fstore_sql_spark.operators.dedup import cluster_safe_split

        row = cluster_safe_split(spark, sf_dir).first()
        assert row["dup_groups"] >= 25  # planted copies present
        assert row["leaky_groups"] == 0  # by construction
        assert 0 < row["n_test_docs"] < row["n_docs"]
