"""Sharded + paged high-watermark.

As one driver-resident frame the per-partition watermark would be
unbounded at 76 B/partition; these tests pin its contract: the watermark
pages under the same shard layout and LRU budget as the locks ledger,
claims/acks behave identically, steady ingest+deliver never re-aggregates
the log, and a sibling process freeloads the committer's maintained
watermark instead of rebuilding.

Paging follows the pinned shard count (``ShardedLocksLedger``
``MAX_RESIDENT_SHARDS``); tests page an 8-shard store by lowering that
budget with ``_page`` before the store opens."""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fstore_sql_spark import EventStore
from fstore_sql_spark.ledger import ShardedLocksLedger
from fstore_sql_spark.storage import ShardFrame


@pytest.fixture()
def path():
    p = tempfile.mkdtemp(prefix="fstore_hwm_")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _page(monkeypatch, budget: int) -> None:
    """Make stores opened from here on page with ``budget`` shard frames
    resident (every layout of more shards than that pages)."""
    monkeypatch.setattr(ShardedLocksLedger, "MAX_RESIDENT_SHARDS", budget)


def _count_snapshot_reads(monkeypatch) -> "dict[str, int]":
    """Count the shard frames' parquet snapshot reads, by table prefix
    (``hwm_`` / ``locks_``): a load served by the evict-cache reads
    none."""
    calls = {"hwm_": 0, "locks_": 0}
    orig = ShardFrame._read_snapshot

    def counting(path):
        for prefix in calls:
            if os.path.basename(os.path.dirname(path)).startswith(prefix):
                calls[prefix] += 1
        return orig(path)

    monkeypatch.setattr(ShardFrame, "_read_snapshot", staticmethod(counting))
    return calls


def _seed(spark, path, n_parts=120, events_per=2):
    store = EventStore(spark, path)
    store.register_decider_event("dec", "evt", "hwm paging test")
    store.register_view("v", start_at="2000-01-01T00:00:00")
    rows = []
    seq = 0
    for p in range(n_parts):
        prev = None
        for i in range(events_per):
            eid = f"p{p:05d}-e{i}"
            rows.append(
                {
                    "event": "evt",
                    "event_id": eid,
                    "decider": "dec",
                    "decider_id": f"p{p:05d}",
                    "data": "{}",
                    "previous_id": prev,
                    "seq": seq,
                }
            )
            prev = eid
            seq += 1
    store.append_batch(rows)
    return store


def _drain(store, view="v", limit=25, max_ticks=400):
    """stream→ack until empty; returns [(decider_id, offset)] delivered."""
    delivered = []
    for _ in range(max_ticks):
        got = store.stream_events(view, limit=limit).collect()
        if not got:
            break
        for r in got:
            delivered.append((r["decider_id"], r["offset"]))
        store.ack_events(view, [(r["decider_id"], r["offset"]) for r in got],
                         returning=False)
    return delivered


class TestHwmPaging:
    def test_budget_enforced_and_delivery_unchanged(self, spark, path, monkeypatch):
        n, per = 120, 2
        _page(monkeypatch, 2)
        store = _seed(spark, path, n, per)
        delivered = _drain(store)
        # every event of every partition delivered exactly once, in order
        assert len(delivered) == n * per
        per_stream: dict[str, list[int]] = {}
        for d, o in delivered:
            per_stream.setdefault(d, []).append(o)
        assert len(per_stream) == n
        for d, offs in per_stream.items():
            assert offs == sorted(offs) and len(offs) == per
        # the paging budget held for BOTH driver-resident structures
        st = store.stats()
        assert st["hwm_resident_shards"] <= 2
        assert st["ledger_resident_shards"] <= 2

    def test_steady_ingest_deliver_never_rebuilds(self, spark, path):
        """The incremental path (merge_batch): after the first claim's
        rebuild, subsequent append→claim cycles fold the batch aggregate
        instead of re-aggregating the log."""
        store = _seed(spark, path, 20, 1)
        got = store.stream_events("v", limit=5).collect()
        assert got
        assert store._hwm_shards.rebuild_count == 1
        for r in got:
            store.ack_event("v", r["decider_id"], r["offset"])
        for batch in range(3):
            store.append_batch(
                [
                    {
                        "event": "evt",
                        "event_id": f"inc-{batch}-{i}",
                        "decider": "dec",
                        "decider_id": f"inc-{batch}-{i}",
                        "data": "{}",
                        "previous_id": None,
                    }
                    for i in range(5)
                ]
            )
            assert store.stream_events("v", limit=5).count() > 0
        assert store._hwm_shards.rebuild_count == 1, (
            "steady ingest+deliver re-aggregated the log"
        )

    def test_sibling_process_freeloads_committer_watermark(self, spark, path):
        """A consumer opening the store AFTER the committer materialized
        the watermark must load it from the state layout (meta fresh) —
        zero rebuilds — including across later commits (delta replay)."""
        producer = _seed(spark, path, 30, 1)
        assert producer.stream_events("v", limit=1).count() == 1  # materialize
        assert producer._hwm_shards.rebuild_count == 1

        consumer = EventStore(spark, path)
        got = consumer.stream_events("v", limit=10).collect()
        assert got
        assert consumer._hwm_shards.rebuild_count == 0, (
            "consumer rebuilt instead of loading the committer's watermark"
        )
        consumer.ack_events(
            "v", [(r["decider_id"], r["offset"]) for r in got], returning=False
        )
        # committer appends more: consumer must see it via delta reload,
        # still without a rebuild
        producer.append_batch(
            [
                {
                    "event": "evt",
                    "event_id": "sib-new-1",
                    "decider": "dec",
                    "decider_id": "sib-new",
                    "data": "{}",
                    "previous_id": None,
                }
            ]
        )
        delivered = _drain(consumer)
        assert ("sib-new", ) [0] in {d for d, _ in delivered}
        assert consumer._hwm_shards.rebuild_count == 0

    def test_reloaded_shard_replays_same_key_deltas_without_duplicates(
        self, spark, path
    ):
        """Regression: two commits advancing the SAME partition write
        two deltas for one key; a disk reload must REPLACE on replay, not
        duplicate (the single-key-column apply_state_delta bug — a
        duplicated index then kills the eligibility scan outright)."""
        store = _seed(spark, path, 4, 1)
        # materialize the watermark early so every append folds a delta
        assert store.stream_events("v", limit=1).count() == 1
        for i in range(3):
            store.append_event(
                "evt", f"same-{i}", "dec", "samekey", "{}",
                previous_id=None if i == 0 else f"same-{i-1}",
            )
        # a FRESH instance reloads every shard from snapshot+delta chain
        reopened = EventStore(spark, path)
        hwm = reopened._hwm_view()
        for k in range(hwm.n_shards):
            f = hwm.for_shard(k)
            assert f.index.is_unique, f"shard {k} duplicated keys on replay"
        full = hwm.full()
        assert full.loc["samekey", "offset"] == full["offset"].max()
        delivered = _drain(reopened)
        assert [o for d, o in delivered if d == "samekey"] == sorted(
            o for d, o in delivered if d == "samekey"
        )
        assert len([1 for d, _ in delivered if d == "samekey"]) == 3

    def test_compaction_keeps_watermark_synced(self, spark, path):
        """Compaction rewrites the log layout but not its content — the
        commit-keyed watermark must survive it without a rebuild."""
        store = _seed(spark, path, 25, 2)
        got = store.stream_events("v", limit=5).collect()
        for r in got:
            store.ack_event("v", r["decider_id"], r["offset"])
        assert store._hwm_shards.rebuild_count == 1
        store.compact()
        delivered = _drain(store)
        assert store._hwm_shards.rebuild_count == 1
        # 25*2 events total, 5 already acked above
        assert len(delivered) == 25 * 2 - 5

    def test_evicted_hwm_shard_reloads_from_spill_cache(
        self, spark, path, monkeypatch
    ):
        """The evict-cache for the watermark (mirror of the ledger's): an
        evicted shard reloads from the version-tagged Arrow spill + delta
        tail — identical content, without touching the parquet snapshot
        path; a commit past the spill is covered by the tail replay."""
        _page(monkeypatch, 2)
        store = _seed(spark, path, 60, 1)
        hwm = store._hwm_view()
        # materialize + capture every shard's content, forcing evictions
        before = {k: hwm.for_shard(k).copy() for k in range(hwm.n_shards)}
        # a new commit writes deltas past the spilled tags
        store.append_batch(
            [
                {
                    "event": "evt",
                    "event_id": "spill-new",
                    "decider": "dec",
                    "decider_id": "spill-new",
                    "data": "{}",
                    "previous_id": None,
                }
            ]
        )
        hwm = store._hwm_view()
        calls = _count_snapshot_reads(monkeypatch)
        full = pd.concat([hwm.for_shard(k) for k in range(hwm.n_shards)])
        # identical content for all pre-existing keys + the new one
        for k, f in before.items():
            cur = hwm.for_shard(k)
            got = cur.loc[cur.index.intersection(f.index)]
            pd.testing.assert_frame_equal(got.sort_index(), f.sort_index())
        assert "spill-new" in full.index
        # spilled shards reloaded via the cache, not the snapshot path
        assert calls["hwm_"] == 0, (
            f"{calls['hwm_']} snapshot reloads despite warm evict-caches"
        )
        # the counter does count: without its cache a shard reloads
        # from the snapshot
        os.unlink(os.path.join(path, "hwm_s00_state", "_EVICT.arrow"))
        hwm.invalidate()
        hwm.for_shard(0)
        assert calls["hwm_"] == 1

    def test_paged_register_view_backfill_stays_in_budget(
        self, spark, path, monkeypatch
    ):
        """T7 on a paged store: registering a view AFTER events exist
        backfills every partition shard-at-a-time — residency stays at
        the budget throughout, and the backfill semantics (start_at in
        the past ⇒ stream everything) are unchanged."""
        _page(monkeypatch, 2)
        store = EventStore(spark, path)
        store.register_decider_event("dec", "evt", "late view")
        store.append_batch(
            [
                {
                    "event": "evt",
                    "event_id": f"lv-{i}",
                    "decider": "dec",
                    "decider_id": f"lv-{i:04d}",
                    "data": "{}",
                    "previous_id": None,
                }
                for i in range(100)
            ]
        )
        store.register_view("late", start_at="2000-01-01T00:00:00")
        st = store.stats()
        assert st["ledger_resident_shards"] <= 2
        assert st["hwm_resident_shards"] <= 2
        delivered = _drain(store, view="late")
        assert len(delivered) == 100
        # and a start_at in the FUTURE backfills as fully-consumed
        store.register_view("caught_up", start_at="2999-01-01T00:00:00")
        assert store.stream_events("caught_up", limit=10).count() == 0

    def test_locks_view_and_returning_rows_match_unpaged(
        self, spark, path, monkeypatch
    ):
        """The full-table surface (locks()) and the RETURNING path
        (targeted shard lookup) agree between a paged and an unpaged
        store over identical state."""
        _page(monkeypatch, 1)
        paged = _seed(spark, path, 40, 1)
        row = paged.stream_events("v", limit=1).collect()[0]
        returned = paged.ack_event("v", row["decider_id"], row["offset"]).collect()
        assert len(returned) == 1
        assert returned[0]["last_offset"] == row["offset"]
        assert returned[0]["offset"] == row["offset"]  # hwm column joined in
        locks = paged.locks()
        assert locks.count() == 40
        assert (
            locks.filter(F.col("decider_id") == row["decider_id"]).collect()[0][
                "last_offset"
            ]
            == row["offset"]
        )
        st = paged.stats()
        assert st["hwm_resident_shards"] <= 1
        assert st["ledger_resident_shards"] <= 1


def _corrupt_hwm_deltas(path) -> int:
    """Overwrite every persisted hwm delta file with garbage (a power
    loss can tear a data page even though writers stage+rename — the
    dirent survives, the bytes may not).  Returns how many were torn."""
    import glob
    import os

    torn = 0
    for f in glob.glob(os.path.join(path, "hwm_s*_state", "*.delta.arrow")):
        with open(f, "wb") as fh:
            fh.write(b"torn-by-power-loss")
        torn += 1
    # the evict caches can legitimately rescue a torn delta (their version
    # tag covers it) — tear them too so the tests exercise the REPAIR path
    for f in glob.glob(os.path.join(path, "hwm_s*_state", "_EVICT.arrow")):
        os.unlink(f)
    return torn


class TestHwmTornState:
    """Durability: a torn watermark delta must repair by
    rebuild from the log (the watermark is DERIVED — the log is always
    the authority), never crash the claim path or silently under-deliver."""

    def test_read_path_repairs_torn_delta_by_rebuild(self, spark, path):
        producer = _seed(spark, path, 24, 1)
        got = producer.stream_events("v", limit=1).collect()  # materialize
        assert len(got) == 1 and producer._hwm_shards.rebuild_count == 1
        producer.ack_event("v", got[0]["decider_id"], got[0]["offset"])
        # a second commit writes per-shard deltas; tear them all
        producer.append_batch(
            [
                {
                    "event": "evt",
                    "event_id": f"p{p:05d}-e1",
                    "decider": "dec",
                    "decider_id": f"p{p:05d}",
                    "data": "{}",
                    "previous_id": f"p{p:05d}-e0",
                }
                for p in range(24)
            ]
        )
        assert _corrupt_hwm_deltas(path) > 0
        consumer = EventStore(spark, path)
        delivered = _drain(consumer)
        # repair happened (rebuild), delivery complete and in order
        assert consumer._hwm_shards.rebuild_count >= 1
        per: dict[str, list[int]] = {}
        for d, o in delivered:
            per.setdefault(d, []).append(o)
        assert len(per) == 24
        acked = got[0]["decider_id"]
        for d, offs in per.items():
            assert offs == sorted(offs)
            assert len(offs) == (1 if d == acked else 2)

    def test_merge_path_repairs_torn_delta_at_compaction(
        self, spark, path, monkeypatch
    ):
        """The committer's compact fold hits the torn chain while holding
        the hwm lock (non-reentrant) — repair must rebuild in place and
        the fold must keep delivering the batch being committed."""
        _page(monkeypatch, 1)
        store = _seed(spark, path, 4, 1)
        got = store.stream_events("v", limit=1).collect()  # materialize
        assert len(got) == 1 and store._hwm_shards.rebuild_count == 1
        store.ack_event("v", got[0]["decider_id"], got[0]["offset"])
        # chain so far: snapshot v0 (registration backfill) + delta v1
        # (the seed batch — the T7 backfill already materialized the
        # watermark, so every append folds).  COMPACT_EVERY=3 puts the
        # compact fold on the SECOND append below — after the corruption.
        monkeypatch.setattr(ShardFrame, "COMPACT_EVERY", 3)
        store.append_batch(
            [
                {
                    "event": "evt",
                    "event_id": f"p{p:05d}-e1",
                    "decider": "dec",
                    "decider_id": f"p{p:05d}",
                    "data": "{}",
                    "previous_id": f"p{p:05d}-e0",
                }
                for p in range(4)
            ]
        )
        assert _corrupt_hwm_deltas(path) > 0
        # paging (a budget of 1) evicted most frames, so the compact
        # branch must LOAD the shard — hitting the torn chain
        store.append_batch(
            [
                {
                    "event": "evt",
                    "event_id": f"p{p:05d}-e2",
                    "decider": "dec",
                    "decider_id": f"p{p:05d}",
                    "data": "{}",
                    "previous_id": f"p{p:05d}-e1",
                }
                for p in range(4)
            ]
        )
        assert store._hwm_shards.rebuild_count == 2, (
            "torn chain at compaction did not repair by rebuild"
        )
        delivered = _drain(store)
        per: dict[str, list[int]] = {}
        for d, o in delivered:
            per.setdefault(d, []).append(o)
        acked = got[0]["decider_id"]
        assert len(per) == 4
        for d, offs in per.items():
            assert offs == sorted(offs)
            assert len(offs) == (2 if d == acked else 3)


class TestHwmResizeInterplay:
    def test_shard_resize_rebuilds_watermark_routing(self, spark, path):
        """A shard-count resize re-routes the LOCKS
        ledger, and the watermark shares that routing — the persisted hwm
        layout must be cleared by the resize, else lookups against the
        old shard layout miss partitions and delivery stalls forever."""
        from fstore_sql_spark.ledger import resize_shards
        from fstore_sql_spark.storage import ParquetStore

        store = _seed(spark, path, 40, 1)
        got = store.stream_events("v", limit=5).collect()  # materialize hwm
        store.ack_events(
            "v", [(r["decider_id"], r["offset"]) for r in got], returning=False
        )
        assert resize_shards(ParquetStore(None, path), "locks", 16) == 16
        reopened = EventStore(spark, path)
        assert reopened.ledger.n_shards == 16
        delivered = _drain(reopened)
        # every remaining event delivers under the NEW routing
        assert len(delivered) == 40 - len(got)
        assert reopened.locks().filter("last_offset < offset").count() == 0


@pytest.mark.slow
class TestHwmPagingScale:
    def test_million_partition_hwm_under_memory_budget(
        self, spark, path, monkeypatch
    ):
        """1M partitions, residency budget of 2 shards, claims/acks
        unchanged, hwm resident bytes measured and bounded — the
        BASELINE.md ceiling table's hwm term drops from O(#partitions)
        to O(active shards)."""
        n = 1_000_000
        _page(monkeypatch, 2)
        store = EventStore(spark, path)
        store.register_decider_event("dec", "evt", "1M hwm")
        store.register_view("v", start_at="2000-01-01T00:00:00")
        df = (
            spark.range(n)
            .selectExpr(
                "'evt' as event",
                "concat('e', id) as event_id",
                "'dec' as decider",
                "concat('p', lpad(id, 7, '0')) as decider_id",
                "'{}' as data",
                "uuid() as command_id",
                "cast(null as string) as previous_id",
                "id as seq",
            )
        )
        store.append_batch(df, validate=False)
        # first claim materializes the watermark: ONE rebuild, no
        # O(#partitions) driver collect (shard-partitioned write)
        total = 0
        for _ in range(10):
            got = store.stream_events("v", limit=50).collect()
            total += len(got)
            store.ack_events(
                "v", [(r["decider_id"], r["offset"]) for r in got], returning=False
            )
            st = store.stats()
            assert st["hwm_resident_shards"] <= 2
            assert st["ledger_resident_shards"] <= 2
        assert total == 10 * 50
        assert store._hwm_shards.rebuild_count == 1
        st = store.stats()
        n_shards = store.ledger.n_shards
        # stated budget: 2 resident shards of ~n/n_shards rows each at
        # <300 B/row (measured ~76 B/row + pandas index overhead headroom)
        budget = int(2 * (n / n_shards) * 300)
        assert 0 < st["hwm_resident_bytes"] <= budget, st
        print(
            f"\nhwm resident_bytes={st['hwm_resident_bytes']:,} "
            f"budget={budget:,} shards={st['hwm_resident_shards']}"
        )


class TestAutoPagingPosture:
    """Paging is a property of the pinned layout: a store of more than
    ``MAX_RESIDENT_SHARDS`` shards pages within that budget, a smaller
    one keeps every shard resident.  ``expected_partitions`` only sizes
    a fresh store; paging follows from the count it lays out."""

    def test_expected_partitions_enables_budget(self, spark, path):
        store = EventStore(spark, path, expected_partitions=2_000_000)
        assert store.ledger.n_shards == 64
        budget = ShardedLocksLedger.MAX_RESIDENT_SHARDS
        assert store.ledger.max_resident == budget
        assert store._hwm_shards.max_resident == budget

    def test_small_store_budget_covers_all_shards(self, spark, path):
        # 8 shards are within the budget: no paging, and no lazy loads
        store = EventStore(spark, path, expected_partitions=1_000)
        assert store.ledger.n_shards == 8
        assert store.ledger.max_resident is None
        assert store._hwm_shards.max_resident is None

    def test_expected_consumers_lifts_shard_count(self, spark, path):
        # the consumer-provisioning rule at the API: 2M partitions alone
        # lay out 64 shards; declaring 100 concurrent consumers lifts the
        # fresh layout to next_pow2(100) = 128 so workers never
        # outnumber shards (the measured scaling knee)
        store = EventStore(
            spark,
            path,
            expected_partitions=2_000_000,
            expected_consumers=100,
        )
        assert store.ledger.n_shards == 128
        # hwm sharding follows the ledger layout
        assert store._hwm_shards.n_shards == 128

    def test_resized_layout_pages_on_reopen(self, spark, path):
        """A default 8-shard store resized to 32 shards reopens paged
        with the budget of 16, and delivers every event exactly once, in
        per-partition order, while most shards are evicted."""
        from fstore_sql_spark.ledger import resize_shards
        from fstore_sql_spark.storage import ParquetStore

        n, per = 300, 2
        store = _seed(spark, path, n, per)
        assert store.ledger.max_resident is None
        assert resize_shards(ParquetStore(None, path), "locks", 32) == 32
        reopened = EventStore(spark, path)
        budget = ShardedLocksLedger.MAX_RESIDENT_SHARDS
        assert reopened.ledger.n_shards == 32
        assert reopened.ledger.max_resident == budget == 16
        assert reopened._hwm_shards.max_resident == budget
        delivered = _drain(reopened)
        assert len(delivered) == len(set(delivered)) == n * per
        per_stream: dict[str, list[int]] = {}
        for d, o in delivered:
            per_stream.setdefault(d, []).append(o)
        assert len(per_stream) == n
        for offs in per_stream.values():
            assert offs == sorted(offs) and len(offs) == per
        st = reopened.stats()
        assert st["ledger_resident_shards"] <= budget
        assert st["hwm_resident_shards"] <= budget

    def test_posture_store_delivers_and_acks(self, spark, path):
        """Functional smoke under the auto posture: append, stream, ack —
        same results as any store (deep paging behavior is pinned by the
        budget-2 tests above)."""
        store = EventStore(spark, path, expected_partitions=500)
        store.register_decider_event("dec", "evt", "posture smoke")
        store.register_view("v", start_at="2000-01-01T00:00:00")
        store.append_batch(
            [
                {
                    "event": "evt",
                    "event_id": f"e{i}",
                    "decider": "dec",
                    "decider_id": f"p{i % 7}",
                    "data": "{}",
                    "previous_id": f"e{i - 7}" if i >= 7 else None,
                    "seq": i,
                }
                for i in range(21)
            ]
        )
        seen = _drain(store, limit=10)
        assert len(seen) == 21 and len(set(seen)) == 21


class TestLocksIter:
    """The shard-batched operational variant of the reference-shaped
    ``locks()`` view: peak residency one shard, not the whole table."""

    def test_locks_iter_matches_locks(self, spark, path, monkeypatch):
        import pandas as pd

        _page(monkeypatch, 2)
        store = _seed(spark, path, n_parts=60, events_per=2)
        # take a few claims so some rows carry live leases
        got = store.stream_events("v", limit=10).collect()
        assert got
        full = store.locks().toPandas()
        chunks = list(store.locks_iter())
        assert len(chunks) > 1, "expected one frame per non-empty shard"
        iterated = pd.concat(chunks, ignore_index=True)
        key = ["view", "decider_id"]
        pd.testing.assert_frame_equal(
            full.sort_values(key).reset_index(drop=True),
            iterated.sort_values(key).reset_index(drop=True),
            check_dtype=False,  # Spark round-trip yields datetime64[us]
        )
        # peak residency during the walk stayed shard-sized
        assert store.ledger.resident_shards() <= 3
