"""PPJoin ``max_df`` stop-list recall pins (r11, VERDICT r10 #2).

The measured dial markings live in BASELINE.md ("max_df stop-list
measured where it bites").  This module pins the recall semantics
on a corpus small enough that every count is derivable BY HAND, so the
lever's contract — output is a strict subset of the exact join, and the
loss is exactly the pairs whose every prefix shingle exceeds the bound —
can never drift silently.

Fixture anatomy (210 boilerplate + 90 organic docs):
- 10-word template ⇒ each boilerplate doc has 9 shingles: 8 pure-template
  (doc_freq = 210, shared by ALL boilerplate docs) + 1 suffix-straddle.
- group X: 60 identical docs  (straddle doc_freq = 60)
- group Y: 150 identical docs (straddle doc_freq = 150)
- organic docs use globally unique words ⇒ no shared shingles, no pairs.

Every boilerplate doc's 2 rarest shingles are [its straddle, the
lexicographically-first template shingle], so:
- exact (max_df=None): the template bucket alone pairs all 210 docs:
  C(210,2) = 21,945 pairs, all genuine (cross-group Jaccard = 8/10).
- max_df=180: template bucket (210) pruned, both straddles kept ⇒
  within-group pairs only: C(60,2) + C(150,2) = 12,945 (recall 0.59).
- max_df=100: only group X's straddle (60) survives ⇒ C(60,2) = 1,770
  (recall 0.081).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fstore_sql_spark.operators.dedup import prefix_filter_pairs

TPL = " ".join(f"tpl{i}" for i in range(10))

N_X, N_Y, N_ORGANIC = 60, 150, 90
EXACT = (N_X + N_Y) * (N_X + N_Y - 1) // 2          # 21,945
WITHIN = N_X * (N_X - 1) // 2 + N_Y * (N_Y - 1) // 2  # 12,945
X_ONLY = N_X * (N_X - 1) // 2                        # 1,770


@pytest.fixture(scope="module")
def boiler_corpus(spark):
    n = N_X + N_Y + N_ORGANIC
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < N_X, F.lit(TPL + " sfxX"))
        .when(F.col("id") < N_X + N_Y, F.lit(TPL + " sfxY"))
        .otherwise(
            F.expr(
                "concat_ws(' ', transform(sequence(0, 4),"
                " j -> concat('u', cast(id * 5 + j as string))))"
            )
        )
        .alias("text"),
    )


def _pairs(corpus, max_df):
    return {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_pairs(corpus, max_df=max_df).collect()
    }


class TestMaxDfStopList:
    def test_exact_join_is_the_full_clique(self, spark, boiler_corpus):
        got = _pairs(boiler_corpus, None)
        assert len(got) == EXACT
        # organic docs never pair (unique vocabulary)
        assert all(a < N_X + N_Y and b < N_X + N_Y for a, b in got)

    def test_stoplist_outputs_are_nested_subsets(self, spark, boiler_corpus):
        exact = _pairs(boiler_corpus, None)
        at180 = _pairs(boiler_corpus, 180)
        at100 = _pairs(boiler_corpus, 100)
        assert at100 < at180 < exact

    def test_recall_at_each_dial_position(self, spark, boiler_corpus):
        exact = len(_pairs(boiler_corpus, None))
        at180 = len(_pairs(boiler_corpus, 180))
        at100 = len(_pairs(boiler_corpus, 100))
        assert at180 == WITHIN
        assert at100 == X_ONLY
        # the documented bounds (BASELINE.md dial markings)
        assert at180 / exact >= 0.58
        assert at100 / exact >= 0.08

    def test_loss_is_exactly_the_cross_group_pairs(self, spark, boiler_corpus):
        """What max_df=180 drops is precisely the template-bucket-only
        pairs: every lost pair crosses the X/Y group boundary, and every
        within-group pair is kept — the fragmentation semantics a user
        tuning the lever needs (clusters split, members never vanish)."""
        lost = _pairs(boiler_corpus, None) - _pairs(boiler_corpus, 180)
        assert len(lost) == EXACT - WITHIN
        assert all((a < N_X) != (b < N_X) for a, b in lost)


class TestPersistAutoGate:
    """r12 (VERDICT r11 #4 + ADVICE r11): ``persist_tok=None`` decides by
    corpus size AND local-disk headroom.  The r11 always-on default taxed
    the 5k-doc sf0.1 gate query 64%, leaked one DISK_ONLY cache per
    no-arg sweep call, and — first persist-enabled sf100 sweep — filled
    the volume (46 GB cache concurrent with the join's own spill) and
    died on ENOSPC.  These pins make the three gate clauses behavioral:
    small corpora never persist; the doc threshold opens the gate; a
    cache estimate that cannot fit half the free local-dir space closes
    it again."""

    def _cache_mgr_empty(self, spark) -> bool:
        return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())

    def test_small_corpus_never_persists(self, spark, boiler_corpus):
        spark.catalog.clearCache()
        prefix_filter_pairs(boiler_corpus).count()
        assert self._cache_mgr_empty(spark)

    def test_doc_threshold_opens_the_gate(self, spark, boiler_corpus, monkeypatch):
        import fstore_sql_spark.operators.dedup as dd

        monkeypatch.setattr(dd, "PERSIST_TOK_MIN_DOCS", 10)
        spark.catalog.clearCache()
        try:
            prefix_filter_pairs(boiler_corpus).count()
            assert not self._cache_mgr_empty(spark)
        finally:
            spark.catalog.clearCache()

    def test_disk_headroom_closes_the_gate(self, spark, boiler_corpus, monkeypatch):
        import fstore_sql_spark.operators.dedup as dd

        monkeypatch.setattr(dd, "PERSIST_TOK_MIN_DOCS", 10)
        # a cache estimate no volume can hold: the gate must close even
        # above the doc threshold (the sf100 ENOSPC class)
        monkeypatch.setattr(dd, "PERSIST_TOK_EST_BYTES_PER_DOC", 10**18)
        spark.catalog.clearCache()
        prefix_filter_pairs(boiler_corpus).count()
        assert self._cache_mgr_empty(spark)

    def test_multi_dir_list_sums_distinct_filesystems_once(
        self, spark, boiler_corpus, monkeypatch, tmp_path
    ):
        """r14 (ADVICE r13): Spark round-robins blocks across EVERY
        SPARK_LOCAL_DIRS entry, so the gate sums free space across the
        list — but two dirs on ONE volume share its free bytes and must
        be counted once (dedup by st_dev), or a 2-entry list on a single
        disk would double the apparent pool and re-open the ENOSPC
        class the gate exists to prevent."""
        import shutil as _sh

        import fstore_sql_spark.operators.dedup as dd

        a = tmp_path / "spill_a"
        b = tmp_path / "spill_b"
        a.mkdir()
        b.mkdir()
        monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{a},{b}")
        free = _sh.disk_usage(str(a)).free
        # an estimate that fits ONE volume's half-free but not two: same
        # filesystem twice must read as one pool → gate closes
        per_doc = (free // 2) + (free // 4)
        n_docs = 1
        monkeypatch.setattr(dd, "PERSIST_TOK_EST_BYTES_PER_DOC", per_doc)
        assert not dd._persist_tok_fits_disk(boiler_corpus, n_docs)
        # sanity: a fitting estimate passes through the same path
        monkeypatch.setattr(dd, "PERSIST_TOK_EST_BYTES_PER_DOC", free // 8)
        assert dd._persist_tok_fits_disk(boiler_corpus, n_docs)

    def test_unresolvable_dir_list_closes_the_gate(
        self, spark, boiler_corpus, monkeypatch
    ):
        """A list of nonexistent dirs must fail CLOSED (no probe-able
        volume → no persist), not crash the query."""
        import fstore_sql_spark.operators.dedup as dd

        monkeypatch.setenv(
            "SPARK_LOCAL_DIRS", "/nonexistent_a,/nonexistent_b, "
        )
        assert not dd._persist_tok_fits_disk(boiler_corpus, 1)

    def test_explicit_true_bypasses_the_disk_check(
        self, spark, boiler_corpus, monkeypatch
    ):
        import fstore_sql_spark.operators.dedup as dd

        monkeypatch.setattr(dd, "PERSIST_TOK_EST_BYTES_PER_DOC", 10**18)
        spark.catalog.clearCache()
        try:
            prefix_filter_pairs(boiler_corpus, persist_tok=True).count()
            assert not self._cache_mgr_empty(spark)  # cluster escape hatch
        finally:
            spark.catalog.clearCache()
