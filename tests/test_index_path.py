"""The index path of ``append_batch``: small batches validated from the
driver-side stream-tail index (``ShardedHwm``) instead of the set-based
program over the log.

- A differential test sends seeded random batches through both
  validators, on two stores with the same history, and requires the same
  accept or raise (class and message), the same committed log rows and
  the same T6 lock rows.
- The index itself: rebuilt from the log it equals the incrementally
  merged one, after own appends, a sibling store's appends and
  ``compact()``; an old-layout index on disk rebuilds once.
- Cost: a 1-event append on a stream tail runs at most 1 Spark job (the
  write; C1's probe is a driver-side read); a stale ``previous_id``
  takes the set path and still raises the reference's optimistic-lock
  error.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import tempfile
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fstore_sql_spark import EventStore, errors
from fstore_sql_spark.hwm import _HWM_COLS

REGISTRY = [("acct", "opened", 1), ("acct", "credited", 1), ("card", "opened", 1)]
PAST = "2000-01-01T00:00:00"


@pytest.fixture()
def paths():
    made = []

    def make():
        p = tempfile.mkdtemp(prefix="fstore_index_")
        made.append(p)
        return p

    yield make
    for p in made:
        shutil.rmtree(p, ignore_errors=True)


def open_store(spark, path, register=True):
    store = EventStore(spark, path)
    if register:
        for dec, ev, ver in REGISTRY:
            store.register_decider_event(dec, ev, "index path test", ver)
        store.register_view("v", start_at=PAST)
    return store


def log_rows(store):
    """The committed log, every column but ``created_at`` (the wall clock
    of the commit), in offset order."""
    cols = [c for c in store.events().columns if c != "created_at"]
    return [tuple(r) for r in store.events().select(cols).orderBy("offset").collect()]


def lock_rows(store):
    pdf = store.ledger.to_pandas()
    return sorted(zip(pdf["view"], pdf["decider_id"], pdf["last_offset"]))


def rebuilt_index(store) -> pd.DataFrame:
    """The tail index recomputed from the log, in ``ShardedHwm``'s shape."""
    pdf = (
        store.events()
        .groupBy("decider_id")
        .agg(
            F.max("offset").alias("offset"),
            F.max_by("final", "offset").alias("offset_final"),
            F.max_by("decider", "offset").alias("decider"),
            F.max_by("event_id", "offset").alias("event_id"),
        )
        .toPandas()
    )
    return pdf[_HWM_COLS].set_index("decider_id").sort_index()


def merged_index(store) -> pd.DataFrame:
    with store._commit_lock:
        store._refresh_external()
        return store._hwm_view().full()[_HWM_COLS[1:]]


def assert_index_matches_log(store):
    pd.testing.assert_frame_equal(
        merged_index(store), rebuilt_index(store), check_dtype=False
    )


class BatchGen:
    """Seeded batches over a model of the committed streams: valid,
    stale, fork, finalized, unregistered, duplicate-id, intra-batch
    chain, shared-decider_id and replay batches, alone and mixed."""

    KINDS = (
        "new", "tail", "chain", "finalize", "stale", "fork", "on_final",
        "final_mid_batch", "unregistered", "dup_batch", "dup_log", "shared",
        "t3_new", "t2_new", "t2_tail", "noseq_chain", "noseq_tail_chain", "ignore",
        "mixed_t3_c1", "mixed_t2_c3", "mixed_c1_c3", "mixed_t1_t3",
        "mixed_stale_c3", "shared_tail",
    )

    def __init__(self, seed: int):
        self.rng = random.Random(f"index-path:{seed}")
        self.n = 0
        self.streams: dict[tuple[str, str], list[str]] = {}
        self.finalized: set[tuple[str, str]] = set()
        self.last_ok: list[dict] = []

    def sync(self, store):
        """Reload the model from the committed log."""
        self.streams.clear()
        self.finalized.clear()
        rows = (
            store.events()
            .select("decider_id", "decider", "event_id", "final", "offset")
            .orderBy("offset")
            .collect()
        )
        for r in rows:
            key = (r["decider_id"], r["decider"])
            self.streams.setdefault(key, []).append(r["event_id"])
            if r["final"]:
                self.finalized.add(key)

    def uid(self) -> str:
        self.n += 1
        return f"e{self.n:04d}-{self.rng.getrandbits(24):06x}"

    def new_key(self, decider="acct") -> tuple[str, str]:
        self.n += 1
        return (f"s{self.n:04d}", decider)

    def open_streams(self, min_len=1):
        return sorted(
            k for k, ids in self.streams.items()
            if k not in self.finalized and len(ids) >= min_len and k[1] == "acct"
        )

    def row(self, key, prev, event=None, final=False, version=1):
        eid = self.uid()
        return {
            "event": event or ("opened" if prev is None else "credited"),
            "event_id": eid,
            "event_version": version,
            "decider": key[1],
            "decider_id": key[0],
            "data": json.dumps({"n": self.n}),
            "command_id": f"c-{eid}",
            "previous_id": prev,
            "final": final,
        }

    def chain(self, key, n, prev=None, final_last=False):
        out = []
        for i in range(n):
            r = self.row(key, prev, final=final_last and i == n - 1)
            out.append(r)
            prev = r["event_id"]
        return out

    def tail_of(self, key):
        ids = self.streams.get(key)
        return ids[-1] if ids else None

    def on_tails(self, k=2, per=1):
        keys = self.open_streams()
        pick = self.rng.sample(keys, min(k, len(keys)))
        return [r for key in pick for r in self.chain(key, per, self.tail_of(key))]

    def interleave(self, groups):
        """Rows of several streams interleaved, each stream's order kept."""
        out, groups = [], [list(g) for g in groups if g]
        while groups:
            g = self.rng.choice(groups)
            out.append(g.pop(0))
            if not g:
                groups.remove(g)
        return out

    def make(self, kind):
        """-> (rows, input form, on_conflict).  Form is "list", "df" (with
        ``seq``) or "df_noseq"."""
        rng = self.rng
        form = rng.choice(["list", "list", "df"])
        on_conflict = "error"
        if kind == "new":
            rows = self.interleave(
                [self.chain(self.new_key(), rng.randint(1, 3)) for _ in range(rng.randint(1, 3))]
            )
        elif kind == "tail":
            rows = self.on_tails(rng.randint(1, 3))
        elif kind == "chain":
            rows = self.interleave(
                [self.on_tails(1, rng.randint(2, 3)), self.chain(self.new_key(), 2)]
            )
        elif kind == "finalize":
            key = rng.choice(self.open_streams())
            rows = self.chain(key, 2, self.tail_of(key), final_last=True)
        elif kind == "stale":
            key = rng.choice(self.open_streams(min_len=2))
            rows = [self.row(key, rng.choice(self.streams[key][:-1]))]
        elif kind == "fork":
            key = rng.choice(self.open_streams())
            rows = [self.row(key, self.tail_of(key)), self.row(key, self.tail_of(key))]
        elif kind == "on_final":
            key = sorted(self.finalized)[0]
            rows = self.on_tails(1) + [self.row(key, self.tail_of(key))]
        elif kind == "final_mid_batch":
            key = rng.choice(self.open_streams())
            a = self.row(key, self.tail_of(key), final=True)
            rows = [a, self.row(key, a["event_id"])]
        elif kind == "unregistered":
            rows = self.on_tails(2)
            bad = rng.choice(rows)
            if rng.random() < 0.5:
                bad["event"] = "bogus"
            else:
                bad["event_version"] = 2
        elif kind == "dup_batch":
            rows = self.on_tails(2) + self.chain(self.new_key(), 1)
            rows[-1]["event_id"] = rows[0]["event_id"]
        elif kind == "dup_log":
            rows = self.on_tails(2)
            old = rng.choice(sorted(self.streams))
            rows[-1]["event_id"] = rng.choice(self.streams[old])
        elif kind == "shared":
            # a card stream on a decider_id an acct stream already uses
            key = (rng.choice(self.open_streams())[0], "card")
            rows = [self.row(key, self.tail_of(key), event="opened")]
        elif kind == "shared_tail":
            card = sorted(k for k in self.streams if k[1] == "card")[0]
            acct = (card[0], "acct")
            rows = [self.row(card, self.tail_of(card), event="opened")]
            if acct in self.streams and acct not in self.finalized:
                rows.append(self.row(acct, self.tail_of(acct)))
        elif kind == "t3_new":
            rows = self.on_tails(1) + [self.row(self.new_key(), "no-such-event")]
        elif kind == "t2_new":
            key = self.new_key()
            rows = [self.row(key, None), self.row(key, None)]
        elif kind == "t2_tail":
            key = rng.choice(self.open_streams())
            rows = self.on_tails(1) + [self.row(key, None)]
        elif kind == "noseq_chain":
            form = "df_noseq"
            rows = self.chain(self.new_key(), 3)
        elif kind == "noseq_tail_chain":
            form = "df_noseq"
            rows = self.on_tails(1, 3)
        elif kind == "ignore":
            on_conflict = "ignore"
            rows = [{k: v for k, v in r.items() if k != "seq"} for r in self.last_ok]
            rows += self.on_tails(1) + self.chain(self.new_key(), 1)
        elif kind == "mixed_t3_c1":
            rows = self.on_tails(1) + [self.row(self.new_key(), "no-such-event")]
            rows[0]["event_id"] = self.streams[sorted(self.streams)[0]][0]
        elif kind == "mixed_t2_c3":
            key = rng.choice(self.open_streams())
            rows = self.on_tails(1) + [self.row(key, None, event="bogus")]
        elif kind == "mixed_c1_c3":
            rows = self.on_tails(3)
            logged = sorted(i for ids in self.streams.values() for i in ids)
            for r, eid in zip(rows, rng.sample(logged, 2)):
                r["event_id"] = eid
            rows[-1]["event"] = "bogus"
            rows[0]["event_version"] = 3
        elif kind == "mixed_t1_t3":
            key = sorted(self.finalized)[0]
            rows = [self.row(key, self.tail_of(key)), self.row(self.new_key(), "missing")]
        elif kind == "mixed_stale_c3":
            key = rng.choice(self.open_streams(min_len=2))
            rows = [self.row(key, self.streams[key][0], event="bogus")]
        else:
            raise ValueError(kind)
        if form == "df":
            for i, r in enumerate(rows):
                r["seq"] = i
            rng.shuffle(rows)  # the explicit seq carries the order
        return rows, form, on_conflict


def as_input(spark, rows, form):
    if form == "list":
        return [dict(r) for r in rows]
    cols = [
        "event", "event_id", "event_version", "decider", "decider_id",
        "data", "command_id", "previous_id", "final",
    ]
    ddl = (
        "event string, event_id string, event_version long, decider string, "
        "decider_id string, data string, command_id string, "
        "previous_id string, final boolean"
    )
    if form == "df":
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=cols + ["seq"]), ddl + ", seq long"
        )
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), ddl)


def outcome(store, data, on_conflict):
    try:
        store.append_batch(data, on_conflict=on_conflict)
        return None
    except errors.FStoreError as e:
        return (type(e).__name__, str(e))


def test_index_path_agrees_with_set_path(spark, paths):
    """Seeded random batches through both validators: same accept or
    raise (class and message), same committed rows, same T6 lock rows."""
    by_set = open_store(spark, paths())
    by_set.INDEX_PATH_MAX_ROWS = 0  # every batch takes the set path
    by_index = open_store(spark, paths())
    gen = BatchGen(seed=7)
    # seed history: streams to extend, a finalized stream, a card stream
    kinds = ["new", "new", "chain", "tail", "finalize", "shared"] + list(BatchGen.KINDS)
    kinds += gen.rng.choices(BatchGen.KINDS, k=4)
    raised = set()
    for i, kind in enumerate(kinds):
        gen.sync(by_index)
        rows, form, on_conflict = gen.make(kind)
        got = {
            name: outcome(store, as_input(spark, rows, form), on_conflict)
            for name, store in (("set", by_set), ("index", by_index))
        }
        assert got["set"] == got["index"], (i, kind, form, rows, got)
        if got["index"] is None:
            gen.last_ok = rows
        else:
            raised.add(got["index"][0])
    # unvalidated rows are numbered, indexed and T6-seeded alike
    gen.sync(by_index)
    rows, form, _ = gen.make("chain")
    for store in (by_set, by_index):
        store.append_batch(as_input(spark, rows, form), validate=False)
    assert by_set.append_paths["index"] == 0
    # most batches were decided by the index; the rest fell back
    assert by_index.append_paths["index"] >= len(kinds) // 2, by_index.append_paths
    assert by_index.append_paths["set"] >= 3, by_index.append_paths
    assert raised >= {
        "StreamFinalizedError", "FirstEventError", "PreviousIdError",
        "DuplicateEventIdError", "OptimisticLockError", "UnregisteredEventError",
    }
    assert log_rows(by_index) == log_rows(by_set)
    assert lock_rows(by_index) == lock_rows(by_set)
    assert_index_matches_log(by_index)


def test_index_equals_rebuild_after_own_sibling_and_compact(spark, paths):
    path = paths()
    store = open_store(spark, path)
    gen = BatchGen(seed=3)
    for _ in range(3):
        gen.sync(store)
        store.append_batch(gen.make("new")[0])
    store.append_batch(
        spark.createDataFrame(
            pd.DataFrame(gen.on_tails(2, 2) + gen.chain(gen.new_key(), 2))
        ).withColumn("seq", F.monotonically_increasing_id())
    )
    assert store.append_paths == {"index": 4, "set": 0}
    assert_index_matches_log(store)
    # a batch above the threshold takes the set path and folds its tails
    store.INDEX_PATH_MAX_ROWS = 2
    gen.sync(store)
    store.append_batch(gen.on_tails(3))
    assert store.append_paths["set"] == 1
    assert_index_matches_log(store)
    rebuilds = store._hwm_shards.rebuild_count

    sibling = EventStore(spark, path)
    gen.sync(sibling)
    sibling.append_batch(gen.on_tails(2) + gen.chain(gen.new_key(), 1))
    sibling.append_event(
        "credited", "sib-1", "acct", gen.open_streams()[0][0],
        previous_id=gen.tail_of(gen.open_streams()[0]),
    )
    assert sibling.append_paths["index"] == 2
    assert_index_matches_log(store)
    assert_index_matches_log(sibling)

    store.compact()
    assert_index_matches_log(store)
    gen.sync(store)
    store.append_batch(gen.on_tails(1))
    assert_index_matches_log(store)
    assert_index_matches_log(sibling)
    # every step above was folded in, never recomputed from the log
    assert store._hwm_shards.rebuild_count == rebuilds
    assert sibling._hwm_shards.rebuild_count == 0


def test_old_layout_index_rebuilds_once(spark, paths):
    """A store whose watermark was written in the three-column layout
    (meta without a format field) rebuilds it once; index-path appends
    are then correct."""
    path = paths()
    store = open_store(spark, path)
    gen = BatchGen(seed=5)
    store.append_batch(gen.make("new")[0])
    gen.sync(store)
    store.append_batch(gen.on_tails(2))
    hwm = store._hwm_view()
    for k in range(hwm.n_shards):
        old = hwm.for_shard(k).reset_index()[["decider_id", "offset", "offset_final"]]
        store.storage.write_state_pandas(f"hwm_s{k:02d}", old)
    with open(os.path.join(path, "hwm_META.json"), "w", encoding="utf-8") as f:
        json.dump({"commit_id": store.storage.read_published("events")}, f)

    reopened = EventStore(spark, path)
    gen.sync(reopened)
    key = gen.open_streams()[0]
    reopened.append_event("credited", "after-1", "acct", key[0], previous_id=gen.tail_of(key))
    assert reopened._hwm_shards.rebuild_count == 1
    reopened.append_event("credited", "after-2", "acct", key[0], previous_id="after-1")
    with pytest.raises(errors.OptimisticLockError):
        reopened.append_event("credited", "after-3", "acct", key[0], previous_id="after-1")
    assert reopened.append_paths == {"index": 2, "set": 1}
    assert reopened._hwm_shards.rebuild_count == 1
    got = [r["event_id"] for r in reopened.get_events(key[0], "acct").collect()]
    assert got[-2:] == ["after-1", "after-2"]
    assert_index_matches_log(reopened)


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"index-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "index path job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_tail_append_spark_jobs(spark, paths):
    """A 1-event append on a stream tail runs at most 1 Spark job (the
    write; the C1 probe reads the log on the driver); a stale
    previous_id goes down the set path and raises the reference's
    optimistic-lock error."""
    store = open_store(spark, paths())
    gen = BatchGen(seed=11)
    store.append_batch(gen.chain(gen.new_key(), 3) + gen.chain(gen.new_key(), 2))
    gen.sync(store)
    key = gen.open_streams()[0]
    tail = gen.tail_of(key)
    store.append_event("credited", "warm", "acct", key[0], previous_id=tail)

    n = _jobs(spark, lambda: store.append_event(
        "credited", "hot", "acct", key[0], previous_id="warm"
    ))
    assert n <= 1, n
    assert store.append_paths == {"index": 3, "set": 0}
    n = _jobs(spark, lambda: store.append_event("opened", "born", "acct", "fresh"))
    assert n <= 1, n

    with pytest.raises(errors.OptimisticLockError) as e:
        store.append_event("credited", "late", "acct", key[0], previous_id="warm")
    assert str(e.value) == (
        'duplicate key value violates unique constraint "events_previous_id_key" '
        "(previous_id=warm)"
    )
    assert store.append_paths == {"index": 4, "set": 1}
    assert store.stats()["append_paths"] == {"index": 4, "set": 1}
    store.append_event("credited", "next", "acct", key[0], previous_id="hot")
    assert set(store.last_append_profile) == {
        "candidates_s", "validate_s", "t6_locks_s", "offset_number_s",
        "parquet_write_s", "marker_publish_s", "hwm_merge_s",
    }
