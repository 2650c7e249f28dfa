"""Differential test of ``storage.ShardFrame``, the shard-state primitive
under the locks ledger and the watermark (Spark-free).

A hypothesis state machine drives one writer frame through random
upserts, deletes, flushes and merges, with evictions, a sibling instance's
writes (flush and unloaded ``merge``) and cold reopens in between, and
checks every load path against a dict model of the committed state:
cold snapshot + delta chain, evict-cache + delta tail, and a sibling's
incremental delta replay.  ``COMPACT_EVERY`` is 3, so chains fold into
snapshots every few writes.  Both key shapes run: the ledger's
``(view, decider_id)`` and the watermark's ``(decider_id,)``.
"""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest
from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)

from fstore_sql_spark.storage import ParquetStore, ShardFrame

IDS = [f"p{i:02d}" for i in range(8)]
VIEWS = ["a", "b"]


def _machine(key_cols: "list[str]"):
    compound = len(key_cols) == 2
    cols = key_cols + ["n", "tag"]
    keys = st.tuples(st.sampled_from(VIEWS), st.sampled_from(IDS)) if compound \
        else st.sampled_from(IDS)
    key_sets = st.lists(keys, min_size=1, max_size=5, unique=True)

    def empty() -> pd.DataFrame:
        return pd.DataFrame(
            {c: pd.Series(dtype="object") for c in key_cols}
            | {"n": pd.Series(dtype="int64"), "tag": pd.Series(dtype="object")}
        ).set_index(key_cols)

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[cols].astype({"n": "int64"})
        return pdf.set_index(key_cols).sort_index()

    def key_frame(ks) -> pd.DataFrame:
        return pd.DataFrame(list(ks), columns=key_cols)

    def upsert_delta(ks, n: int) -> pd.DataFrame:
        return key_frame(ks).assign(n=n, tag=f"t{n}", _deleted=False)

    def as_dict(df: pd.DataFrame) -> dict:
        assert df.index.is_unique, "duplicate keys after replay"
        assert df.index.is_monotonic_increasing, "frame left unsorted"
        return {k: (int(n), t) for k, n, t in zip(df.index, df["n"], df["tag"])}

    class Machine(RuleBasedStateMachine):
        def __init__(self):
            super().__init__()
            self.root = tempfile.mkdtemp(prefix="shard_frame_")
            self.disk: dict = {}  # the committed state
            self.a_view: dict = {}  # what the writer's frame holds
            self.a = self._frame()
            self.sibling = self._frame()

        def teardown(self):
            shutil.rmtree(self.root, ignore_errors=True)

        def _frame(self) -> ShardFrame:
            return ShardFrame(ParquetStore(None, self.root), "t", key_cols,
                              normalize, empty)

        def _writer(self) -> ShardFrame:
            """The writer, current with the disk (what a guard does)."""
            if not self.a.dirty:
                self.a.refresh()
                self.a_view = dict(self.disk)
            return self.a

        # ---- the writer's mutations ----------------------------------- #

        @rule(ks=key_sets, n=st.integers(0, 1000))
        def upsert(self, ks, n):
            a = self._writer()
            a.apply(upsert_delta(ks, n))
            a.touch(ks)
            self.a_view.update({k: (n, f"t{n}") for k in ks})

        @rule(ks=key_sets)
        def delete(self, ks):
            a = self._writer()
            a.apply(key_frame(ks).assign(n=0, tag=None, _deleted=True))
            a.touch_deleted(ks)
            for k in ks:
                self.a_view.pop(k, None)

        @precondition(lambda self: self.a.dirty)
        @rule()
        def flush(self):
            self.a.flush()
            assert not self.a.dirty
            self.disk = dict(self.a_view)

        @precondition(lambda self: not self.a.dirty)
        @rule(ks=key_sets, n=st.integers(0, 1000))
        def merge(self, ks, n):
            """The watermark's fold on a loaded frame: one commit."""
            a = self._writer()
            a.merge(upsert_delta(ks, n).drop(columns="_deleted"))
            assert a.resident and not a.dirty
            self.disk.update({k: (n, f"t{n}") for k in ks})
            self.a_view = dict(self.disk)

        @rule()
        def evict(self):
            dirty = self.a.dirty
            self.a.evict()
            # a frame with pending keys is refused, never dropped
            assert self.a.resident == dirty

        @precondition(lambda self: not self.a.dirty)
        @rule()
        def reload_writer(self):
            """Evict (spilling the evict-cache) and load again: the
            cache plus the delta tail."""
            self.a.evict()
            self._writer()

        # ---- a sibling instance's writes ------------------------------ #

        @precondition(lambda self: not self.a.dirty)
        @rule(ks=key_sets, n=st.integers(0, 1000), drop=st.booleans())
        def sibling_flush(self, ks, n, drop):
            s = self.sibling
            s.refresh()  # incremental replay of the writer's deltas
            assert as_dict(s.df) == self.disk
            if drop:
                s.apply(key_frame(ks).assign(n=0, tag=None, _deleted=True))
                s.touch_deleted(ks)
                for k in ks:
                    self.disk.pop(k, None)
            else:
                s.apply(upsert_delta(ks, n))
                s.touch(ks)
                self.disk.update({k: (n, f"t{n}") for k in ks})
            s.flush()

        @precondition(lambda self: not self.a.dirty)
        @rule(ks=key_sets, n=st.integers(0, 1000))
        def sibling_merge(self, ks, n):
            """The watermark's fold: an unloaded frame takes the delta
            without loading, and loads only to fold a snapshot."""
            f = self._frame()
            f.merge(upsert_delta(ks, n).drop(columns="_deleted"))
            assert not f.resident
            self.disk.update({k: (n, f"t{n}") for k in ks})

        # ---- cold reads ---------------------------------------------- #

        @rule(use_cache=st.booleans())
        def cold_reopen(self, use_cache):
            f = self._frame()
            if not use_cache:  # force the snapshot + delta chain
                f._read_cache = lambda: None
            f.refresh()
            assert as_dict(f.df) == self.disk

        @invariant()
        def writer_matches_model(self):
            if self.a.resident:
                assert as_dict(self.a.df) == self.a_view

    return Machine


@pytest.mark.parametrize(
    "key_cols", [["view", "decider_id"], ["decider_id"]], ids=["compound", "single"]
)
def test_shard_frame_matches_dict_model(key_cols, monkeypatch):
    monkeypatch.setattr(ShardFrame, "COMPACT_EVERY", 3)
    run_state_machine_as_test(
        _machine(key_cols),
        settings=settings(max_examples=50, stateful_step_count=30, deadline=None),
    )


@pytest.mark.parametrize(
    "key_cols", [["view", "decider_id"], ["decider_id"]], ids=["compound", "single"]
)
def test_frame_bytes_ignores_lookups(key_cols, tmp_path):
    """``frame_bytes`` counts the rows held, not the hash table an index
    builds on its first lookup: equal before and after a ``get_indexer``
    on the same rows."""
    n = 1000
    rows = pd.DataFrame({
        "view": [f"v{i % 3}" for i in range(n)],
        "decider_id": [f"p{i:05d}" for i in range(n)],
        "n": range(n),
    })

    def normalize(pdf):
        return pdf[key_cols + ["n"]].set_index(key_cols).sort_index()

    frame = ShardFrame(ParquetStore(None, str(tmp_path)), "t", key_cols,
                       normalize, lambda: normalize(rows.iloc[:0]))
    frame.merge(rows)
    frame.refresh()
    before = frame.frame_bytes()
    assert before > 0
    idx = frame.df.index
    assert (idx.get_indexer(idx[::7]) >= 0).all()
    assert frame.frame_bytes() == before
