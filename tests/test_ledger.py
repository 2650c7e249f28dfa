"""LocksLedger unit + cross-process tests (no SparkSession needed).

The ledger is the consumer-state authority behind stream_events/ack —
the ``FOR UPDATE SKIP LOCKED`` analogue
(/root/reference/schema.sql:402-446).  These tests pin:

- claim/ack/nack semantics at the frame level (fast, Spark-free),
- snapshot durability + staleness reload between two ledger instances
  (what two EventStore PROCESSES on one path observe), and
- the cross-process disjointness contract via real ``multiprocessing``
  spawn children hammering one store path concurrently.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil
import tempfile
from datetime import datetime, timedelta, timezone

import pandas as pd
import pytest

from fstore_sql_spark.ledger import LocksLedger, ProcessLock, ShardedLocksLedger
from fstore_sql_spark.storage import ParquetStore
from tests._ledger_worker import claim_worker, lock_counter_worker


def now_utc() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


@pytest.fixture()
def root():
    path = tempfile.mkdtemp(prefix="ledger_test_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def seed_rows(view: str, n: int, last_offset: int = 0) -> pd.DataFrame:
    past = now_utc() - timedelta(hours=1)
    return pd.DataFrame(
        {
            "view": view,
            "decider_id": [f"p{i:04d}" for i in range(n)],
            "last_offset": last_offset,
            "locked_until": pd.Timestamp(past),
            "created_at": pd.Timestamp(past),
            "updated_at": pd.Timestamp(past),
        }
    )


def hwm_frame(n: int, offset: int = 5) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "decider_id": [f"p{i:04d}" for i in range(n)],
            "offset": offset,
            "offset_final": False,
        }
    ).set_index("decider_id")


class TestLedgerSemantics:
    def test_claim_leases_and_skips(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 5))
        hwm = hwm_frame(5)
        now = now_utc()
        with ledger.guard():
            first = ledger.claim("v", hwm, 3, now, now + timedelta(seconds=300))
        assert len(first) == 3
        with ledger.guard():
            second = ledger.claim("v", hwm, 5, now_utc(), now_utc() + timedelta(seconds=300))
        # leased partitions are skipped — only the 2 unleased remain
        assert len(second) == 2
        assert {d for d, _ in first}.isdisjoint({d for d, _ in second})

    def test_claim_orders_by_watermark_offset(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 3))
        hwm = hwm_frame(3)
        hwm.loc["p0001", "offset"] = 1  # lowest watermark claims first
        now = now_utc()
        with ledger.guard():
            got = ledger.claim("v", hwm, 1, now, now + timedelta(seconds=300))
        assert [d for d, _ in got] == ["p0001"]

    def test_ack_advances_and_releases(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 2))
        now = now_utc()
        hwm = hwm_frame(2)
        with ledger.guard():
            got = ledger.claim("v", hwm, 2, now, now + timedelta(seconds=300))
        with ledger.guard():
            ledger.ack("v", [(d, 3) for d, _ in got], now_utc())
        # released + advanced: claimable again, now from offset 3
        with ledger.guard():
            again = ledger.claim("v", hwm, 2, now_utc(), now_utc() + timedelta(seconds=300))
        assert sorted(o for _, o in again) == [3, 3]

    def test_fully_consumed_not_claimable(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 2, last_offset=5))
        with ledger.guard():
            got = ledger.claim("v", hwm_frame(2, offset=5), 2, now_utc(), now_utc())
        assert got == []

    def test_lease_expiry_reclaims(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 1))
        hwm = hwm_frame(1)
        now = now_utc()
        with ledger.guard():
            assert len(ledger.claim("v", hwm, 1, now, now + timedelta(milliseconds=1))) == 1
        # lease instant has passed → redelivery (at-least-once)
        later = now + timedelta(seconds=1)
        with ledger.guard():
            assert len(ledger.claim("v", hwm, 1, later, later + timedelta(seconds=300))) == 1

    def test_insert_missing_is_conflict_do_nothing(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 2))
            ledger.ack("v", [("p0000", 9)], now_utc())
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 3))  # p0000/p0001 exist
        pdf = ledger.to_pandas().set_index("decider_id")
        assert len(pdf) == 3
        assert pdf.loc["p0000", "last_offset"] == 9  # untouched by re-insert

    def test_upsert_overwrites_offsets_preserves_created_at(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 1))
        created = ledger.to_pandas()["created_at"].iloc[0]
        rows = seed_rows("v", 2, last_offset=7)
        rows["created_at"] = pd.Timestamp(now_utc())
        with ledger.guard():
            ledger.upsert(rows)
        pdf = ledger.to_pandas().set_index("decider_id")
        assert pdf.loc["p0000", "last_offset"] == 7
        assert pdf.loc["p0000", "created_at"] == created  # T7 preserves
        assert pdf.loc["p0001", "last_offset"] == 7  # inserted

    def test_delete_view_cascades_only_that_view(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("a", 2))
            ledger.insert_missing(seed_rows("b", 2))
        with ledger.guard():
            ledger.delete_view("a")
        assert set(ledger.to_pandas()["view"]) == {"b"}


class TestShardedLedger:
    def test_routing_is_stable_and_acks_land(self, root):
        from fstore_sql_spark.ledger import shard_of

        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 64))
        hwm = hwm_frame(64)
        ledger.ack("v", [("p0005", 3), ("p0042", 4)], now_utc())
        pdf = ledger.to_pandas().set_index("decider_id")
        assert pdf.loc["p0005", "last_offset"] == 3
        assert pdf.loc["p0042", "last_offset"] == 4
        # the ack landed in the routed shard's own frame
        s = ledger.shards[shard_of("p0005", ledger.n_shards)]
        assert s._df.loc[("v", "p0005"), "last_offset"] == 3

    def test_rotation_claims_reach_every_shard(self, root):
        """Fairness: repeated claims must not starve any shard — a full
        drain touches every partition exactly once."""
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 64))
        hwm = hwm_frame(64)
        seen: list[str] = []
        for _ in range(64):
            now = now_utc()
            got = ledger.claim("v", hwm, 4, now, now + timedelta(seconds=300))
            seen.extend(d for d, _ in got)
            if len(seen) >= 64:
                break
        assert sorted(seen) == sorted(f"p{i:04d}" for i in range(64))

    def test_upcoming_claims_follow_claim_order(self, root):
        """The delivery read-ahead's warm set is the ledger's upcoming
        claim order: each foreign shard's HEAD in fairness-rotor order
        (the probe claims exactly that partition), then the walk's
        shards from the sticky one, each by (hwm offset, last_offset).
        Shard 0 holds the globally lowest watermarks, so a global
        hwm-offset order would spend the budget there while the walk
        drains shard 1 first.  A leased partition stays in the set, and
        ``first`` pairs (the claims that missed) lead it."""
        ledger = ShardedLocksLedger(ParquetStore(None, root), n_shards=3)
        ids, offsets = [], []
        for k, (name, base) in enumerate(zip("abc", (1, 100, 200))):
            rows = seed_rows("v", 4).assign(
                decider_id=[f"{name}{i}" for i in range(4)]
            )
            # placed by hand, not routed: the test fixes each shard's ids
            with ledger.shards[k].guard():
                ledger.shards[k].insert_missing(rows)
            ids += list(rows["decider_id"])
            offsets += range(base, base + 4)
        hwm = pd.DataFrame({"offset": offsets}, index=pd.Index(ids, name="decider_id"))
        now = now_utc()
        with ledger.shards[1].guard():
            ledger.shards[1].set_locked_until("v", "b1", now + timedelta(hours=1), now)
        ledger._sticky, ledger._rotor = 1, 2

        got = ledger.upcoming_claims("v", hwm, 7)
        # probe heads first (rotor order 2,0 — sticky 1 skipped), then
        # the walk (shard 1 in full, then shard 2 less its taken head)
        assert [d for d, _ in got] == ["c0", "a0", "b0", "b1", "b2", "b3", "c1"]
        assert {lo for _, lo in got} == {0}
        got = ledger.upcoming_claims("v", hwm, 7, first=[("c3", 0)])
        assert [d for d, _ in got] == ["c3", "c0", "a0", "b0", "b1", "b2", "b3"]

    def test_delete_view_cascades_across_shards(self, root):
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("a", 32))
        ledger.insert_missing(seed_rows("b", 32))
        ledger.delete_view("a")
        assert set(ledger.to_pandas()["view"]) == {"b"}
        assert ledger.count() == 32


class TestDurabilityAndStaleness:
    def test_snapshot_survives_restart(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 3))
            ledger.ack("v", [("p0001", 4)], now_utc())
        reopened = LocksLedger(ParquetStore(None, root))
        pdf = reopened.to_pandas().set_index("decider_id")
        assert len(pdf) == 3
        assert pdf.loc["p0001", "last_offset"] == 4

    def test_sibling_instance_sees_flushed_leases(self, root):
        """Two ledger instances on one path = two EventStore processes:
        B's guard() reloads A's flushed lease before claiming."""
        a = LocksLedger(ParquetStore(None, root))
        b = LocksLedger(ParquetStore(None, root))
        with a.guard():
            a.insert_missing(seed_rows("v", 4))
        hwm = hwm_frame(4)
        now = now_utc()
        with a.guard():
            got_a = a.claim("v", hwm, 2, now, now + timedelta(seconds=300))
        with b.guard():
            got_b = b.claim("v", hwm, 4, now_utc(), now_utc() + timedelta(seconds=300))
        assert len(got_a) == 2 and len(got_b) == 2
        assert {d for d, _ in got_a}.isdisjoint({d for d, _ in got_b})


class TestDeltaFlush:
    """The flush-scaling design: claim/ack ticks write append-deltas
    (O(#touched rows)), full snapshots only at the COMPACT_EVERY cadence
    or for bulk mutations — and every reader (incremental sibling,
    cold-open) reconstructs the identical state."""

    def test_ack_flushes_delta_not_snapshot(self, root):
        storage = ParquetStore(None, root)
        ledger = LocksLedger(storage)
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 500))
        with ledger.guard():
            ledger.ack("v", [("p0007", 3)], now_utc())
        v = storage.state_version("locks")
        kind, path = storage._state_entry("locks", v)
        assert kind == "delta"
        dpdf = storage._read_delta_pandas(path)
        assert len(dpdf) == 1 and dpdf["decider_id"].iloc[0] == "p0007"

    def test_cold_reader_replays_chain(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 50))
        for i in range(10):
            with ledger.guard():
                ledger.ack("v", [(f"p{i:04d}", i + 1)], now_utc())
        cold = LocksLedger(ParquetStore(None, root))
        pdf = cold.to_pandas().set_index("decider_id")
        assert len(pdf) == 50
        for i in range(10):
            assert pdf.loc[f"p{i:04d}", "last_offset"] == i + 1

    def test_sibling_incremental_delta_reload(self, root):
        a = LocksLedger(ParquetStore(None, root))
        b = LocksLedger(ParquetStore(None, root))
        with a.guard():
            a.insert_missing(seed_rows("v", 20))
        with b.guard():
            pass  # sync b to a's state
        with a.guard():
            a.ack("v", [("p0003", 9)], now_utc())
        with a.guard():
            a.ack("v", [("p0004", 8)], now_utc())
        # b catches up through the two delta files, not a full reload
        with b.guard():
            pdf = b.to_pandas().set_index("decider_id")
            assert pdf.loc["p0003", "last_offset"] == 9
            assert pdf.loc["p0004", "last_offset"] == 8

    def test_delete_view_tombstones_replay(self, root):
        ledger = LocksLedger(ParquetStore(None, root))
        with ledger.guard():
            ledger.insert_missing(seed_rows("a", 5))
            ledger.insert_missing(seed_rows("b", 5))
        with ledger.guard():
            ledger.delete_view("a")
        cold = LocksLedger(ParquetStore(None, root))
        assert set(cold.to_pandas()["view"]) == {"b"}

    def test_chain_compacts_at_cadence(self, root):
        storage = ParquetStore(None, root)
        ledger = LocksLedger(storage)
        ledger.COMPACT_EVERY = 5
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 30))
        for i in range(12):
            with ledger.guard():
                ledger.ack("v", [(f"p{i:04d}", 2)], now_utc())
        assert storage.state_delta_chain("locks") < 5
        cold = LocksLedger(ParquetStore(None, root))
        assert len(cold.to_pandas()) == 30

    def test_million_row_state_ack_flush_under_50ms(self, root):
        """The flush-scaling bound: a 1M-row locks state must keep the
        per-ack flush < 50 ms (the old full-snapshot rewrite paid
        O(#lock rows) here)."""
        import time as _t

        storage = ParquetStore(None, root)
        ledger = LocksLedger(storage)
        n = 1_000_000
        past = now_utc() - timedelta(hours=1)
        big = pd.DataFrame(
            {
                "view": "v",
                "decider_id": [f"p{i:07d}" for i in range(n)],
                "last_offset": 0,
                "locked_until": pd.Timestamp(past),
                "created_at": pd.Timestamp(past),
                "updated_at": pd.Timestamp(past),
            }
        )
        t0 = _t.perf_counter()
        with ledger.guard():
            ledger.insert_missing(big)
        full_flush = _t.perf_counter() - t0  # bulk insert → full snapshot
        # best-of-3: wall-clock asserts are flaky under a loaded box (the
        # full suite runs Spark jobs in parallel with this test), and one
        # clean tick is what the design promises
        ticks = []
        for i in range(3):
            t0 = _t.perf_counter()
            with ledger.guard():
                ledger.ack("v", [(f"p{42 + i:07d}", 7)], now_utc())
            ticks.append(_t.perf_counter() - t0)
        best = min(ticks)
        assert best < 0.05, f"ack flush took {best * 1000:.1f} ms"
        # load-independent check: the delta flush must beat the full
        # snapshot rewrite by a wide margin — the actual design claim
        assert best < full_flush / 10, (full_flush, ticks)


@pytest.mark.slow  # multiprocessing spawn suite (full tier)
class TestCrossProcess:
    def test_process_lock_no_lost_updates(self, root):
        with open(os.path.join(root, "counter.txt"), "w", encoding="utf-8") as f:
            f.write("0")
        ctx = mp.get_context("spawn")
        procs = [
            ctx.Process(target=lock_counter_worker, args=(root, 25))
            for _ in range(3)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join(120)
            assert p.exitcode == 0
        with open(os.path.join(root, "counter.txt"), encoding="utf-8") as f:
            assert int(f.read().strip()) == 75

    def test_two_process_claims_disjoint(self, root):
        """THE SKIP LOCKED contract (/root/reference/schema.sql:411): two
        consumer processes on one store path, claiming concurrently in a
        loop through the SHARDED ledger (the store's real claim path),
        must never double-claim a partition."""
        n_parts = 120
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", n_parts))
        hwm_frame(n_parts).reset_index().to_parquet(
            os.path.join(root, "hwm.parquet")
        )
        ctx = mp.get_context("spawn")
        outs = [os.path.join(root, f"claims_{i}.json") for i in range(2)]
        # rounds is a CAP; each worker drains until 3 consecutive empty
        # rounds (a round may return short while the sibling holds a
        # shard lock — SKIP LOCKED — so a fixed count was load-flaky)
        procs = [
            ctx.Process(target=claim_worker, args=(root, outs[i], 60, 10))
            for i in range(2)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join(120)
            assert p.exitcode == 0
        all_claims: list[str] = []
        for out in outs:
            with open(out, encoding="utf-8") as f:
                all_claims.extend(json.load(f))
        # both drained ⇒ every partition claimed EXACTLY once across procs
        assert len(all_claims) == n_parts
        assert len(set(all_claims)) == n_parts


class TestProcessLockCrashRecovery:
    def test_dead_holder_does_not_block(self, root):
        """A crashed holder must never wedge the lock.  With flock the
        kernel releases on fd close (process death included), so a stale
        lock FILE left behind — even an aged one — is acquirable
        immediately; no TTL-steal protocol (and none of its TOCTOU race)
        is involved."""
        lock_path = os.path.join(root, "_PROCLOCK")
        with open(lock_path, "w", encoding="utf-8") as f:
            f.write(json.dumps({"pid": 999999, "ts": 0}))
        os.utime(lock_path, (0, 0))  # arbitrarily old — irrelevant to flock
        lock = ProcessLock(lock_path)
        lock.acquire(timeout_s=5)
        lock.release()

    def test_second_acquire_blocks_until_release(self, root):
        lock_path = os.path.join(root, "_PROCLOCK")
        a = ProcessLock(lock_path)
        b = ProcessLock(lock_path)
        a.acquire(timeout_s=5)
        with pytest.raises(TimeoutError):
            b.acquire(timeout_s=0.2)
        a.release()
        b.acquire(timeout_s=5)
        b.release()


class TestR4Hardening:
    def test_process_lock_nested_acquire_fails_fast(self, root):
        """ProcessLock is non-reentrant by design; a nested acquire on
        the same thread must raise immediately instead of
        leaking the held fd and deadlocking on the second flock."""
        from fstore_sql_spark.ledger import ProcessLock

        lock = ProcessLock(os.path.join(root, "_PL"))
        with lock.held():
            with pytest.raises(RuntimeError, match="already held"):
                lock.acquire(timeout_s=0.1)
            with pytest.raises(RuntimeError, match="already held"):
                lock.try_acquire()
        # released — a fresh acquire works again
        with lock.held():
            pass

    def test_shard_count_pinned_in_layout(self, root):
        """crc32 % n_shards routing is part of the persistent layout: a
        marker pins the count at first creation; an explicit mismatching
        n_shards on reopen fails loudly instead of
        silently mis-routing acks into shards where the key doesn't
        exist (which drops them and redelivers forever)."""
        first = ShardedLocksLedger(ParquetStore(None, root), n_shards=4)
        assert first.n_shards == 4
        # default open adopts the pinned layout
        adopted = ShardedLocksLedger(ParquetStore(None, root))
        assert adopted.n_shards == 4
        with pytest.raises(ValueError, match="mis-route"):
            ShardedLocksLedger(ParquetStore(None, root), n_shards=8)

    def test_ack_then_claim_same_tick(self, root):
        """A consumer tick: the previous batch's acks land (durable,
        visible to a cold reader) and a claim at the same ``now``
        excludes them."""
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 8))
        hwm = hwm_frame(8, offset=1)  # one event per partition
        now = now_utc()
        first = ledger.claim("v", hwm, 4, now, now + timedelta(seconds=300))
        assert len(first) == 4
        acks = [(d, lo + 1) for d, lo in first]
        now = now_utc()
        ledger.ack("v", acks, now)
        second = ledger.claim("v", hwm, 8, now, now + timedelta(seconds=300))
        # the 4 acked partitions are consumed (last_offset == hwm); the
        # other 4 are claimable — and only those come back
        assert len(second) == 4
        assert {d for d, _ in second}.isdisjoint({d for d, _ in first})
        cold = ShardedLocksLedger(ParquetStore(None, root))
        pdf = cold.to_pandas().set_index("decider_id")
        for d, _ in first:
            assert pdf.loc[d, "last_offset"] == 1


class TestFairness:
    def test_no_shard_starves_under_continuous_load(self, root):
        """Starvation guard: with limit=1 and a
        sticky shard that ALWAYS has claimable work (hwm far ahead,
        instant acks), the fairness rotation must still deliver every
        partition on every shard within FAIRNESS_EVERY * n_shards *
        n_partition rounds — without it, only the sticky shard's
        partitions are ever claimed."""
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        n_parts = 16
        ledger.insert_missing(seed_rows("v", n_parts))
        hwm = hwm_frame(n_parts, offset=10**6)  # effectively endless
        seen: set[str] = set()
        budget = ledger.FAIRNESS_EVERY * ledger.n_shards * n_parts
        for _ in range(budget):
            now = now_utc()
            got = ledger.claim("v", hwm, 1, now, now + timedelta(seconds=300))
            assert got, "continuous-load claim must never come back empty"
            ledger.ack("v", [(d, lo + 1) for d, lo in got], now)
            seen.update(d for d, _ in got)
            if len(seen) == n_parts:
                break
        assert len(seen) == n_parts, f"starved partitions: " + str(
            {f"p{i:04d}" for i in range(n_parts)} - seen
        )


    def test_no_starvation_under_producer_version_churn(self, root):
        """Starvation guard under churn: a PRODUCER continuously birthing new
        partitions bumps every shard's state version, which the probe's
        live-sibling detector used to read as consumer activity — and
        skip the shard forever.  The consumer claim stamp separates the
        two (producer writes never touch it), so the probe must claim
        straight through the churn: every originally seeded partition
        still delivers."""
        ledger = ShardedLocksLedger(ParquetStore(None, root), n_shards=4)
        producer = ShardedLocksLedger(ParquetStore(None, root))
        n_parts = 8
        ledger.insert_missing(seed_rows("v", n_parts))
        hwm = hwm_frame(n_parts, offset=10**6)
        target = {f"p{i:04d}" for i in range(n_parts)}
        seen: set[str] = set()
        budget = ledger.FAIRNESS_EVERY * ledger.n_shards * 2 * n_parts
        for i in range(budget):
            # churn: one brand-new decider per round, spread over shards
            churn = seed_rows("v", 1)
            churn["decider_id"] = [f"new{i:05d}"]
            producer.insert_missing(churn)
            now = now_utc()
            got = ledger.claim("v", hwm, 1, now, now + timedelta(seconds=300))
            if got:
                ledger.ack("v", [(d, lo + 1) for d, lo in got], now)
                seen.update(d for d, _ in got)
            if target <= seen:
                break
        assert target <= seen, "starved partitions: " + str(target - seen)

    def test_probe_claims_for_view_b_despite_live_view_a_consumer(self, root):
        """View-qualified stamp semantics: a consumer busily claiming
        view A on shard k must NOT defer another consumer's fairness
        probe for view B there — view B's partitions on k would starve
        behind A's activity otherwise."""
        from fstore_sql_spark.ledger import shard_of

        ledger_a = ShardedLocksLedger(ParquetStore(None, root))
        ledger_b = ShardedLocksLedger(ParquetStore(None, root))
        n_parts = 16
        ledger_a.insert_missing(seed_rows("va", n_parts))
        rows_b = seed_rows("vb", n_parts)
        ledger_a.insert_missing(rows_b)
        hwm = hwm_frame(n_parts, offset=10**6)
        # pick a partition of view vb and aim B's probe at its shard
        p_target = "p0000"
        k = shard_of(p_target, ledger_b.n_shards)
        ledger_a._sticky = k  # A works shard k, churning its stamp
        ledger_b._sticky = (k + 1) % ledger_b.n_shards
        got_b: list = []
        for i in range(ledger_b.FAIRNESS_EVERY * 4):
            now = now_utc()
            # A churns shard k's stamp every round (claim + ack on va)
            got_a = ledger_a.claim("va", hwm, 4, now, now + timedelta(seconds=300))
            if got_a:
                ledger_a.ack("va", [(d, lo + 1) for d, lo in got_a], now)
            ledger_b._rotor = k  # force every fairness tick onto shard k
            got = ledger_b.claim("vb", hwm, 1, now, now + timedelta(seconds=300))
            got_b.extend(d for d, _ in got)
            targets_on_k = [
                d for d in got_b if shard_of(d, ledger_b.n_shards) == k
            ]
            if targets_on_k:
                break
        assert targets_on_k, (
            "probe for view vb never claimed from shard k while a view-va "
            "consumer was live there — view-qualified stamp not honored"
        )


    def test_fused_tick_reclaims_hot_partition_same_now(self, root):
        """An ack releases at now - 1us, so a hot partition with
        remaining headroom is claimable by a claim at the SAME ``now``
        (strict lu < now).  With an exact-now release every other tick
        came back empty, halving hot-partition throughput."""
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 1))
        hwm = hwm_frame(1, offset=10**6)
        now = now_utc()
        got = ledger.claim("v", hwm, 1, now, now + timedelta(seconds=300))
        assert len(got) == 1
        for _ in range(5):
            now = now_utc()
            ledger.ack("v", [(d, lo + 1) for d, lo in got], now)
            got = ledger.claim("v", hwm, 1, now, now + timedelta(seconds=300))
            assert len(got) == 1, "tick failed to re-claim hot partition"


class TestUnpublishedOrphans:
    def test_orphan_full_snapshot_does_not_shadow_reallocated_delta(self, root):
        """Crash orphan: a flush that crashed AFTER writing its
        v{N} snapshot dir but BEFORE flipping _LATEST leaves an orphan
        that _state_entry would prefer over the delta a later flush
        publishes at the same version — readers would resolve version N
        to stale pre-crash state and re-claim live leases.  Allocation
        now clears the orphan first."""
        store = ParquetStore(None, root)
        ledger = LocksLedger(store)
        with ledger.guard():
            ledger.insert_missing(seed_rows("v", 4))
        v = store.state_version("locks")
        # simulate the crashed flush: a COMPLETE stale snapshot dir at
        # v+1 (claims p0000) while _LATEST still says v
        stale = ledger.to_pandas()
        stale.loc[stale["decider_id"] == "p0000", "last_offset"] = 999
        import pyarrow as pa
        import pyarrow.parquet as pq

        orphan = os.path.join(root, "locks_state", f"v{v + 1:08d}")
        os.makedirs(orphan)
        pq.write_table(
            pa.Table.from_pandas(stale, preserve_index=False),
            os.path.join(orphan, "part-00000.parquet"),
        )
        # next real mutation allocates v+1: must clear the orphan, not
        # publish a delta it shadows
        now = now_utc()
        with ledger.guard():
            ledger.ack("v", [("p0001", 7)], now)
        # a COLD reader must see the ack and NOT the orphan's 999
        cold = LocksLedger(ParquetStore(None, root))
        pdf = cold.to_pandas().set_index("decider_id")
        assert int(pdf.loc["p0001", "last_offset"]) == 7
        assert int(pdf.loc["p0000", "last_offset"]) == 0, (
            "orphan unpublished snapshot shadowed the reallocated version"
        )


class TestCrashRecovery:
    def test_killed_consumer_releases_lock_and_leases_redeliver(self, root):
        """The no-TTL-steal crash story (ledger module doc): a consumer
        SIGKILLed while HOLDING a shard flock must not wedge the store —
        the kernel releases the lock with the process — and its
        unacked (flushed) leases must block siblings until expiry, then
        redeliver (at-least-once)."""
        import multiprocessing as mp
        import time

        from tests._ledger_worker import claim_and_hang_worker

        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 16))
        hwm_frame(16).reset_index().to_parquet(os.path.join(root, "hwm.parquet"))
        out = os.path.join(root, "claims.json")
        ctx = mp.get_context("spawn")
        # long lease + VIRTUAL clock below: wall-clock sleeps made the
        # expiry assertion flaky on loaded machines (spawn startup alone
        # can eat seconds)
        p = ctx.Process(target=claim_and_hang_worker, args=(root, out, 4, 600.0))
        p.start()
        deadline = time.monotonic() + 60
        while not os.path.exists(out) and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.3)  # let the child take shard 0's lock
        p.kill()
        p.join(30)
        import json as _json

        with open(out, encoding="utf-8") as f:
            dead_claims = set(_json.load(f))
        assert len(dead_claims) == 4
        hwm = hwm_frame(16)
        survivor = ShardedLocksLedger(ParquetStore(None, root))
        # kernel released the dead holder's flock: claims proceed, and
        # the dead consumer's still-leased partitions are excluded
        now = now_utc()
        # survivor lease (3600s) outlives the virtual probe time below,
        # so only the DEAD consumer's 600s leases expire at +601s
        got = survivor.claim("v", hwm, 16, now, now + timedelta(seconds=3600))
        assert {d for d, _ in got} == {
            f"p{i:04d}" for i in range(16)
        } - dead_claims
        # after lease expiry the dead consumer's partitions redeliver —
        # probed with a virtual post-expiry timestamp (claims compare
        # locked_until against the caller's ``now``), no sleeping
        later = now_utc() + timedelta(seconds=601)
        again = survivor.claim("v", hwm, 16, later, later + timedelta(seconds=300))
        assert {d for d, _ in again} == dead_claims


# --------------------------------------------------------------------- #
# Ledger state-machine property: the positional fast paths
# (searchsorted/iloc claim+ack, in-place delta apply, delta-chain
# reload) must agree with a naive dict model AND with a cold reader
# reconstructing the same state from disk after every operation
# sequence.  Spark-free and fast, so it lives in the DEFAULT tier —
# it pins exactly the code a positional-indexing regression would
# break.
# --------------------------------------------------------------------- #

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

ledger_ops = st.lists(
    st.one_of(
        st.tuples(st.just("insert"), st.integers(0, 30), st.integers(1, 8)),
        st.tuples(st.just("claim"), st.integers(1, 10), st.just(0)),
        st.tuples(st.just("ack_next"), st.integers(1, 10), st.just(0)),
        st.tuples(st.just("nack"), st.integers(0, 30), st.just(0)),
        st.tuples(st.just("delete_view"), st.just(0), st.just(0)),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=ledger_ops)
def test_ledger_state_machine_matches_model_and_cold_reader(tmp_path_factory, ops):
    root = str(tmp_path_factory.mktemp("ledger_prop"))
    try:
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        model: dict[str, dict] = {}  # decider_id -> {lo, lu}
        hwm_rows: dict[str, int] = {}
        clock = datetime(2026, 1, 1)
        past = clock - timedelta(hours=1)
        view = "v"
        leased: list[tuple[str, int]] = []  # last claim result

        def hwm_frame_() :
            return pd.DataFrame(
                {
                    "decider_id": list(hwm_rows),
                    "offset": [hwm_rows[d] for d in hwm_rows],
                    "offset_final": False,
                }
            ).set_index("decider_id")

        for op, a, b in ops:
            clock += timedelta(seconds=1)
            if op == "insert":
                dids = [f"p{(a + k) % 40:03d}" for k in range(b)]
                rows = pd.DataFrame(
                    {
                        "view": view,
                        "decider_id": dids,
                        "last_offset": 0,
                        "locked_until": pd.Timestamp(past),
                        "created_at": pd.Timestamp(past),
                        "updated_at": pd.Timestamp(past),
                    }
                )
                ledger.insert_missing(rows)
                for d in dids:
                    model.setdefault(d, {"lo": 0, "lu": past})
                    hwm_rows.setdefault(d, 3)
            elif op == "claim" and hwm_rows:
                lease = clock + timedelta(seconds=300)
                got = ledger.claim(view, hwm_frame_(), a, clock, lease)
                # post-conditions: within limit, distinct, all eligible
                assert len(got) <= a
                assert len({d for d, _ in got}) == len(got)
                for d, lo in got:
                    m = model[d]
                    assert m["lu"] < clock, (d, m)
                    assert m["lo"] < hwm_rows[d]
                    assert lo == m["lo"]
                    m["lu"] = lease
                leased = got
            elif op == "ack_next" and leased:
                acks = [(d, lo + 1) for d, lo in leased[:a]]
                ledger.ack(view, acks, clock)
                for d, o in acks:
                    model[d]["lo"] = o
                    # ack releases to now - 1us so the same-`now` fused
                    # claim half can immediately re-claim (strict lu < now)
                    model[d]["lu"] = clock - timedelta(microseconds=1)
                leased = leased[a:]
            elif op == "nack":
                d = f"p{a % 40:03d}"
                if d in model:
                    ledger.set_locked_until(view, d, clock, clock)
                    model[d]["lu"] = clock
            elif op == "delete_view":
                ledger.delete_view(view)
                model.clear()
                leased = []
        # live frame == model
        live = ledger.to_pandas().set_index("decider_id")
        assert len(live) == len(model)
        for d, m in model.items():
            assert int(live.loc[d, "last_offset"]) == m["lo"], d
            assert live.loc[d, "locked_until"] == pd.Timestamp(m["lu"]), d
        # cold reader reconstructing from disk == live frame
        cold = ShardedLocksLedger(ParquetStore(None, root))
        a_ = ledger.to_pandas().sort_values(["view", "decider_id"]).reset_index(drop=True)
        b_ = cold.to_pandas().sort_values(["view", "decider_id"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a_, b_)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _page(monkeypatch, budget: int) -> None:
    """Make ledgers opened from here on page their 8 default shards with
    ``budget`` frames resident."""
    monkeypatch.setattr(ShardedLocksLedger, "MAX_RESIDENT_SHARDS", budget)


class TestShardPaging:
    """LRU shard paging: a layout of more shards than
    ``MAX_RESIDENT_SHARDS`` keeps driver-resident ledger memory
    O(active shards), evicted shards reload on demand, and claim/ack
    semantics are unchanged.  The tests lower the budget below the
    default 8 shards."""

    def test_budget_enforced_and_claims_still_disjoint(self, root, monkeypatch):
        n = 1_000
        _page(monkeypatch, 2)
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        assert ledger.max_resident == 2
        ledger.insert_missing(seed_rows("v", n))
        assert ledger.resident_shards() <= 2
        hwm = hwm_frame(n, offset=1)  # one undelivered event per partition
        now = now_utc()
        seen: list[str] = []
        # drain: every partition must deliver exactly once even though
        # most shards are evicted between ticks
        for _ in range(200):
            got = ledger.claim("v", hwm, 25, now, now + timedelta(seconds=300))
            if not got:
                break
            ledger.ack("v", [(d, lo + 1) for d, lo in got], now)
            seen.extend(d for d, _ in got)
            assert ledger.resident_shards() <= 2
        assert sorted(seen) == sorted(f"p{i:04d}" for i in range(n))

    def test_unpaged_default_keeps_all_resident(self, root):
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 100))
        assert ledger.resident_shards() == ledger.n_shards
        assert ledger.max_resident is None

    def test_to_pandas_sees_evicted_shards(self, root, monkeypatch):
        _page(monkeypatch, 1)
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 200))
        assert ledger.resident_shards() <= 1
        full = ledger.to_pandas()
        assert len(full) == 200  # evicted shards paged back in for the read

    def test_evicted_shard_reload_preserves_sibling_progress(self, root, monkeypatch):
        """A sibling's flushed acks must survive our eviction/reload."""
        _page(monkeypatch, 1)
        a = ShardedLocksLedger(ParquetStore(None, root))
        monkeypatch.undo()  # the sibling keeps every shard resident
        b = ShardedLocksLedger(ParquetStore(None, root))
        assert (a.max_resident, b.max_resident) == (1, None)
        a.insert_missing(seed_rows("v", 50))
        hwm = hwm_frame(50)
        now = now_utc()
        got = b.claim("v", hwm, 10, now, now + timedelta(seconds=300))
        b.ack("v", [(d, lo + 1) for d, lo in got], now)
        acked = {d for d, _ in got}
        # a's frames are mostly evicted; a full drain through `a` must
        # never redeliver what b consumed (offset 1 of 5: lo moved to 1)
        redelivered = []
        for _ in range(100):
            g = a.claim("v", hwm, 10, now, now + timedelta(seconds=300))
            if not g:
                break
            redelivered.extend(g)
            a.ack("v", [(d, lo + 1) for d, lo in g], now)
        for d, lo in redelivered:
            if d in acked:
                assert lo >= 1, f"lost sibling ack for {d}"

    @pytest.mark.slow
    def test_million_partition_ledger_under_memory_budget(self, root, monkeypatch):
        """The quantified scale ceiling (BASELINE.md table): 1M partitions,
        residency budget of 2 shards, claims working against a mostly
        evicted ledger, resident bytes bounded and measured."""
        n = 1_000_000
        past = now_utc() - timedelta(hours=1)
        _page(monkeypatch, 2)
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        step = 250_000
        for lo in range(0, n, step):
            ledger.insert_missing(
                pd.DataFrame(
                    {
                        "view": "v",
                        "decider_id": [f"p{i:07d}" for i in range(lo, lo + step)],
                        "last_offset": 0,
                        "locked_until": pd.Timestamp(past),
                        "created_at": pd.Timestamp(past),
                        "updated_at": pd.Timestamp(past),
                    }
                )
            )
        assert ledger.resident_shards() <= 2
        # force one shard fully resident to measure per-row cost
        s0 = ledger.shards[0]
        s0.refresh()
        per_row = s0.frame_bytes() / s0.count()
        assert 0 < per_row < 400, f"ledger frame {per_row:.0f} B/row — regressed?"
        # stated budget: 2 resident shards of ~125k rows each at <400 B/row
        budget = int(2 * (n / ledger.n_shards) * 400)
        hwm = pd.DataFrame(
            {
                "decider_id": [f"p{i:07d}" for i in range(0, n, 100)],
                "offset": 5,
                "offset_final": False,
            }
        ).set_index("decider_id")
        now = now_utc()
        total = 0
        for _ in range(20):
            got = ledger.claim("v", hwm, 50, now, now + timedelta(seconds=300))
            total += len(got)
            ledger.ack("v", [(d, lo + 1) for d, lo in got], now)
            assert ledger.resident_shards() <= 2
            assert ledger.resident_bytes() <= budget
        assert total == 20 * 50  # plenty eligible; every tick filled
        print(
            f"\nledger bytes/partition={per_row:.1f} "
            f"resident_bytes={ledger.resident_bytes():,} budget={budget:,}"
        )


class TestShardResize:
    """Offline shard-count resize: crc32 % N routing is pinned into
    the layout, so growing the count is a re-shard — must preserve every
    row, re-route exactly, survive a crash at any point (staging file is
    the recovery authority), and leave a working claim path."""

    def _seed(self, root, n=300):
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        rows = seed_rows("v", n)
        ledger.insert_missing(rows)
        # make some consumer progress so state isn't uniform
        hwm = hwm_frame(n)
        now = now_utc()
        got = ledger.claim("v", hwm, 40, now, now + timedelta(seconds=300))
        ledger.ack("v", [(d, lo + 1) for d, lo in got], now)
        return ledger.to_pandas().sort_values(["view", "decider_id"]).reset_index(drop=True)

    @pytest.mark.parametrize("new_n", [16, 3])
    def test_resize_preserves_state_and_claims(self, root, new_n):
        from fstore_sql_spark.ledger import resize_shards, shard_of

        before = self._seed(root)
        storage = ParquetStore(None, root)
        assert resize_shards(storage, "locks", new_n) == new_n
        reopened = ShardedLocksLedger(storage)
        assert reopened.n_shards == new_n
        after = reopened.to_pandas().sort_values(["view", "decider_id"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(before, after)
        # routing: every row sits in its crc32 % new_n shard
        for k, s in enumerate(reopened.shards):
            for d in s.to_pandas()["decider_id"]:
                assert shard_of(d, new_n) == k
        # the claim path still works and respects prior acks
        hwm = hwm_frame(300)
        now = now_utc()
        got = reopened.claim("v", hwm, 25, now, now + timedelta(seconds=300))
        assert len(got) == 25
        acked = set(before[before.last_offset > 0]["decider_id"])
        for d, lo in got:
            if d in acked:
                assert lo >= 1, "resize lost an ack"

    def test_resize_same_count_is_noop(self, root):
        from fstore_sql_spark.ledger import resize_shards

        before = self._seed(root)
        storage = ParquetStore(None, root)
        assert resize_shards(storage, "locks", 8) == 8
        after = (
            ShardedLocksLedger(storage)
            .to_pandas()
            .sort_values(["view", "decider_id"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(before, after)

    def test_crashed_resize_recovers_from_staging(self, root):
        """Simulate a crash mid-rewrite: staging exists, one shard's state
        already scrambled.  The next opener must rebuild every shard of
        the current layout from staging and clear it."""
        before = self._seed(root)
        storage = ParquetStore(None, root)
        # scramble shard 0 as a half-finished rewrite would (no ledger
        # construction here — that would itself run recovery), THEN plant
        # the staging export a crashed resize leaves behind
        storage.write_state_pandas("locks_s00", before.head(1))
        staging = os.path.join(root, "locks_RESIZE_STAGING.parquet")
        before.to_parquet(staging)
        reopened = ShardedLocksLedger(storage)
        assert not os.path.exists(staging), "staging not cleared"
        after = (
            reopened.to_pandas()
            .sort_values(["view", "decider_id"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(before, after)

    def test_live_ledger_racing_completed_resize_errors(self, root):
        """Resize requires a QUIESCED store.
        A ledger still open across a completed resize routes by the old
        count — its next mutator tick and its next full read must raise
        a clean error naming the quiesce requirement, never write to
        orphaned old-layout shard files."""
        from fstore_sql_spark import errors
        from fstore_sql_spark.ledger import resize_shards

        self._seed(root)
        storage = ParquetStore(None, root)
        live = ShardedLocksLedger(storage)  # opened BEFORE the resize
        assert resize_shards(ParquetStore(None, root), "locks", 16) == 16
        now = now_utc()
        with pytest.raises(errors.ShardLayoutChangedError, match="quiesced"):
            live.claim("v", hwm_frame(300), 10, now, now + timedelta(seconds=300))
        with pytest.raises(errors.ShardLayoutChangedError, match="resized to 16"):
            live.to_pandas()
        with pytest.raises(errors.ShardLayoutChangedError, match="resized to 16"):
            live.shard_frame(0)  # guarded like every read surface
        with pytest.raises(errors.ShardLayoutChangedError, match="resized to 16"):
            next(iter(live.shard_frames()))
        with pytest.raises(errors.ShardLayoutChangedError, match="quiesced"):
            live.insert_missing(seed_rows("v2", 5))
        with pytest.raises(errors.ShardLayoutChangedError, match="quiesced"):
            live.ack("v", [("p00001", 1)], now)
        # a REOPEN adopts the new layout and works
        reopened = ShardedLocksLedger(ParquetStore(None, root))
        assert reopened.n_shards == 16
        got = reopened.claim("v", hwm_frame(300), 10, now, now + timedelta(seconds=300))
        assert len(got) == 10

    def test_live_ledger_racing_in_progress_resize_errors(self, root):
        """While a resize is mid-flight (staging export present, marker
        not yet flipped) a live ledger must refuse to read or mutate —
        the shard files are being rewritten underneath it."""
        from fstore_sql_spark import errors

        before = self._seed(root)
        storage = ParquetStore(None, root)
        live = ShardedLocksLedger(storage)
        staging = os.path.join(root, "locks_RESIZE_STAGING.parquet")
        before.to_parquet(staging)  # what resize publishes before rewriting
        now = now_utc()
        with pytest.raises(errors.ShardLayoutChangedError, match="in progress"):
            live.claim("v", hwm_frame(300), 10, now, now + timedelta(seconds=300))
        with pytest.raises(errors.ShardLayoutChangedError, match="in progress"):
            live.count()
        with pytest.raises(errors.ShardLayoutChangedError, match="in progress"):
            live.shard_frame(0)
        os.unlink(staging)  # resize finished (same count); ledger resumes
        got = live.claim("v", hwm_frame(300), 10, now, now + timedelta(seconds=300))
        assert len(got) == 10


class TestShardSizing:
    """Operational shard sizing: the count comes from
    a partition-count hint at creation, and a p95 tick-latency warning
    tells the operator when the store outgrew it."""

    def test_shards_for_rule(self):
        f = ShardedLocksLedger.shards_for
        assert f(1_000) == 8
        assert f(8 * 32_768) == 8
        assert f(8 * 32_768 + 1) == 16
        assert f(2_000_000) == 64
        assert f(100_000_000) == 4096
        assert f(10**12) == 4096  # clamped

    def test_shards_for_consumers_rule(self):
        # the scaling-knee rule: shards >= next_pow2(workers),
        # clamped to [DEFAULT_SHARDS, MAX_SHARDS]
        f = ShardedLocksLedger.shards_for_consumers
        assert f(1) == 8
        assert f(8) == 8
        assert f(9) == 16
        assert f(24) == 32
        assert f(64) == 64
        assert f(10**9) == 4096  # clamped

    def test_expected_consumers_sizes_fresh_store(self, root):
        # consumers alone lift the count off the 8-shard floor
        a = ShardedLocksLedger(ParquetStore(None, root), expected_consumers=24)
        assert a.n_shards == 32
        # marker wins on reopen, hint or not (same contract as
        # expected_partitions)
        b = ShardedLocksLedger(ParquetStore(None, root), expected_consumers=100)
        assert b.n_shards == 32

    def test_expected_consumers_max_with_partition_rule(self, root):
        # both hints: the layout takes the max of the two rules —
        # 2M partitions alone says 64; 100 consumers say 128
        a = ShardedLocksLedger(
            ParquetStore(None, root),
            expected_partitions=2_000_000,
            expected_consumers=100,
        )
        assert a.n_shards == 128
        shutil.rmtree(root)
        os.makedirs(root)
        # partition rule dominates when consumers are few
        b = ShardedLocksLedger(
            ParquetStore(None, root),
            expected_partitions=2_000_000,
            expected_consumers=4,
        )
        assert b.n_shards == 64

    def test_hint_sizes_fresh_store_and_marker_wins_later(self, root):
        a = ShardedLocksLedger(
            ParquetStore(None, root), expected_partitions=2_000_000
        )
        assert a.n_shards == 64
        # reopen without the hint: the pinned layout is adopted
        b = ShardedLocksLedger(ParquetStore(None, root))
        assert b.n_shards == 64
        # a DIFFERENT hint on an existing layout is ignored, not an error
        c = ShardedLocksLedger(
            ParquetStore(None, root), expected_partitions=100
        )
        assert c.n_shards == 64
        # an EXPLICIT mismatching count still fails loudly
        with pytest.raises(ValueError, match="mis-route"):
            ShardedLocksLedger(ParquetStore(None, root), n_shards=8)

    def test_p95_tick_warning_names_resize_tool(self, root, caplog):
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 64))
        hwm = hwm_frame(64, offset=100)
        now = now_utc()
        # force BOTH gates low enough that real ticks cross them: the
        # latency threshold AND the rows/shard sizing rule (64 partitions
        # / 8 shards = 8 rows per scanned shard)
        ledger.TICK_P95_WARN_S = 0.0
        ledger.TARGET_ROWS_PER_SHARD = 4
        import logging

        with caplog.at_level(logging.WARNING, logger="fstore_sql_spark.ledger"):
            got: list[tuple[str, int]] = []
            for _ in range(ledger.TICK_WINDOW + 16):
                now = now_utc()
                ledger.ack("v", [(d, lo + 1) for d, lo in got], now)
                got = ledger.claim("v", hwm, 4, now, now + timedelta(seconds=300))
        warnings = [r for r in caplog.records if "resize_shards" in r.getMessage()]
        assert warnings, "no resize warning emitted past the p95 threshold"
        assert len(warnings) == 1, "warning not throttled"
        msg = warnings[0].getMessage()
        assert "tools/resize_shards.py" in msg and "--shards" in msg
        assert "rows/shard" in msg, "measured rows/shard missing from message"

    def test_small_but_slow_store_does_not_warn(self, root, caplog):
        """A latency-only false positive: a noisy box pushes
        tick p95 over the latency threshold while shards sit far UNDER
        the sizing rule — a resize would do nothing, so the warning must
        stay silent.  Same loop as the positive test, default
        TARGET_ROWS_PER_SHARD (8 rows/shard is 4096x under it)."""
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 64))
        hwm = hwm_frame(64, offset=100)
        ledger.TICK_P95_WARN_S = 0.0  # every tick breaches the latency gate
        import logging

        with caplog.at_level(logging.WARNING, logger="fstore_sql_spark.ledger"):
            got: list[tuple[str, int]] = []
            for _ in range(ledger.TICK_WINDOW + 16):
                now = now_utc()
                ledger.ack("v", [(d, lo + 1) for d, lo in got], now)
                got = ledger.claim("v", hwm, 4, now, now + timedelta(seconds=300))
        assert not [r for r in caplog.records if "resize_shards" in r.getMessage()], (
            "latency-only breach warned despite healthy rows/shard"
        )

    def test_recommendation_clamped_to_max_shards(self, root, caplog):
        """The recommended count must never exceed MAX_SHARDS,
        and at MAX_SHARDS the warning is suppressed (no resize exists)."""
        import logging

        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.TICK_P95_WARN_S = 0.0
        with caplog.at_level(logging.WARNING, logger="fstore_sql_spark.ledger"):
            for _ in range(ledger.TICK_WINDOW + 16):
                ledger._note_tick_latency(1.0, shard_rows=10**9)
        warnings = [r for r in caplog.records if "resize_shards" in r.getMessage()]
        assert warnings and f"--shards {ledger.MAX_SHARDS}" in warnings[0].getMessage()
        # at the ceiling: silent, even with both gates breached
        caplog.clear()
        at_max = ShardedLocksLedger(ParquetStore(None, root), table="locks2")
        at_max.TICK_P95_WARN_S = 0.0
        at_max.MAX_SHARDS = at_max.n_shards
        with caplog.at_level(logging.WARNING, logger="fstore_sql_spark.ledger"):
            for _ in range(at_max.TICK_WINDOW + 16):
                at_max._note_tick_latency(1.0, shard_rows=10**9)
        assert not [r for r in caplog.records if "resize_shards" in r.getMessage()]

    def test_no_warning_under_threshold(self, root, caplog):
        ledger = ShardedLocksLedger(ParquetStore(None, root))
        ledger.insert_missing(seed_rows("v", 64))
        hwm = hwm_frame(64, offset=100)
        import logging

        with caplog.at_level(logging.WARNING, logger="fstore_sql_spark.ledger"):
            got: list[tuple[str, int]] = []
            for _ in range(ledger.TICK_WINDOW + 16):
                now = now_utc()
                ledger.ack("v", [(d, lo + 1) for d, lo in got], now)
                got = ledger.claim("v", hwm, 4, now, now + timedelta(seconds=300))
        assert not [r for r in caplog.records if "resize_shards" in r.getMessage()]
