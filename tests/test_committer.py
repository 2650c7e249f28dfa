"""Cross-process committer safety: racing producers and committer crashes.

The reference gets multi-connection producer safety from Postgres row locks
plus ``previous_id UNIQUE`` (/root/reference/schema.sql:44) and exercises it
in ``tests/integration/concurrency/test_concurrent_producers.sql``; the
engine's analogue is the committer flock (``EventStore._committer_guard``)
plus the manifest CAS in ``_commit``.  These tests spawn REAL producer
processes, each with its own SparkSession, over one shared store path."""

from __future__ import annotations

import glob
import json
import multiprocessing as mp
import os
import shutil
import tempfile
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fstore_sql_spark import EventStore, errors
from fstore_sql_spark.storage import Manifest, ParquetStore
from fstore_sql_spark.store import _CANDIDATE_DDL
from tests._producer_worker import append_worker, crash_committer_worker

pytestmark = pytest.mark.slow  # spawns extra Spark JVMs — full tier only


@pytest.fixture()
def shared_path():
    path = tempfile.mkdtemp(prefix="fstore_committer_")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _assert_log_consistent(store, expected_ids):
    """The post-race invariants: every committed event exactly once,
    unique offsets, per-stream offsets ascending with a gap-free chain
    inside each stream's own commit (batches are atomic)."""
    ev = store.events().select("event_id", "decider_id", "offset").collect()
    ids = [r["event_id"] for r in ev]
    assert len(ids) == len(set(ids)), "duplicate event_id committed"
    assert set(ids) == set(expected_ids), (
        f"log/committed mismatch: {len(ids)} in log, {len(expected_ids)} reported"
    )
    offsets = [r["offset"] for r in ev]
    assert len(offsets) == len(set(offsets)), "colliding offsets"


class TestConcurrentProducers:
    N_WORKERS = 2
    N_BATCHES = 4
    BATCH = 25

    def test_concurrent_append_batch_lands_exactly_once(self, spark, shared_path):
        parent = EventStore(spark, shared_path)
        parent.register_decider_event("dec", "evt", "producer race test")

        ctx = mp.get_context("spawn")
        barrier = os.path.join(shared_path, "GO")
        outs = [
            os.path.join(shared_path, f"producer_{i}.json")
            for i in range(self.N_WORKERS)
        ]
        procs = [
            ctx.Process(
                target=append_worker,
                args=(shared_path, outs[i], i, self.N_BATCHES, self.BATCH, barrier),
            )
            for i in range(self.N_WORKERS)
        ]
        for p in procs:
            p.start()
        deadline = time.time() + 180
        while not all(os.path.exists(f"{o}.ready") for o in outs):
            assert time.time() < deadline, "workers never became ready"
            time.sleep(0.05)
        with open(barrier, "w", encoding="utf-8") as f:
            f.write("go")
        for p in procs:
            p.join(300)
            assert p.exitcode == 0, f"producer crashed: {p.exitcode}"

        committed, loud_errors = [], []
        for o in outs:
            with open(o, encoding="utf-8") as f:
                d = json.load(f)
            committed.extend(d["committed"])
            loud_errors.extend(d["errors"])
        # The contract: all events land exactly once with
        # collision-free offsets, OR a writer raises loudly.  With the
        # blocking flock both producers serialize, so the expected outcome
        # is zero errors and full commit counts.
        assert not loud_errors, f"producers raised: {loud_errors}"
        assert len(committed) == self.N_WORKERS * self.N_BATCHES * self.BATCH
        _assert_log_consistent(parent, committed)
        # serialized committers ⇒ gap-free offsets 1..N overall
        n = len(committed)
        got = sorted(
            r["offset"] for r in parent.events().select("offset").collect()
        )
        assert got == list(range(1, n + 1)), "offset gaps without any crash"

    def test_manifest_cas_rejects_racing_committer(self, spark, shared_path):
        """White-box: _commit must refuse to allocate offsets from a stale
        manifest (the defense-in-depth path behind the flock)."""
        store = EventStore(spark, shared_path)
        store.register_decider_event("dec", "evt", "cas test")
        store.append_event("evt", "e1", "dec", "d1", "{}")
        stale = store.storage.read_manifest("events")
        # simulate a sibling that raced past the lock: manifest moves on
        store.storage.write_manifest(
            "events", Manifest(max_offset=stale.max_offset + 7, commit_id=stale.commit_id + 1)
        )
        store.storage.write_published("events", stale.commit_id + 1)
        cand = spark.createDataFrame(
            store._prepare_rows(
                [
                    {
                        "event": "evt",
                        "event_id": "e2",
                        "decider": "dec",
                        "decider_id": "d1",
                        "data": "{}",
                        "previous_id": "e1",
                    }
                ]
            ),
            _CANDIDATE_DDL,
        ).persist()
        from datetime import datetime, timezone

        with pytest.raises(errors.ConcurrentCommitError):
            store._commit(
                cand, stale, datetime.now(timezone.utc).replace(tzinfo=None)
            )
        cand.unpersist()
        # nothing was committed: the append is retryable and succeeds
        store.append_event("evt", "e2", "dec", "d1", "{}", previous_id="e1")
        assert (
            store.events().filter(F.col("event_id") == "e2").count() == 1
        )


class TestCommitterCrashRecovery:
    """SIGKILL the committer inside ``_publish``: every
    crash window must recover to all-or-nothing visibility, an idempotent
    replay, and a free committer lock."""

    # Who wrote the crashed commit's files in the log, by kill point (the
    # footer's ``created_by``): the driver writer for an index-path
    # batch, Spark for the set path's; no file where none landed.
    # ``before_manifest`` allocates no commit to look up.
    WRITTEN_BY = {
        "after_manifest": set(),
        "after_stage": set(),
        "mid_append": {"parquet-mr"},
        "after_replace": {"parquet-cpp-arrow"},
        "after_append": {"parquet-cpp-arrow"},
        "after_publish": {"parquet-cpp-arrow"},
    }

    @staticmethod
    def _staged(shared_path):
        st = ParquetStore(None, shared_path)
        return glob.glob(os.path.join(st._log_dir("events"), "_staging", "*"))

    def _check_crash_state(self, shared_path, kill_point) -> int:
        """The on-disk state the kill left, before any recovery: which
        writer's files hold the crashed commit, and whether a staged file
        was left behind.  Returns the manifest's commit id."""
        assert len(self._staged(shared_path)) == (kill_point == "after_stage")
        st = ParquetStore(None, shared_path)
        crashed = st.read_manifest("events").commit_id
        if kill_point in self.WRITTEN_BY:
            files, _, _ = st.txn_log_files("events", crashed)
            writers = {pq.read_metadata(f).created_by.split(" ")[0] for f in files}
            assert writers == self.WRITTEN_BY[kill_point]
        return crashed

    def _run_crash(self, shared_path, kill_point):
        ctx = mp.get_context("spawn")
        out = os.path.join(shared_path, f"crash_{kill_point}.txt")
        p = ctx.Process(
            target=crash_committer_worker, args=(shared_path, out, kill_point)
        )
        p.start()
        p.join(300)
        assert p.exitcode == 42, f"worker exit {p.exitcode}; wanted the injected kill"
        with open(out, encoding="utf-8") as f:
            assert f.read() == "started"

    @pytest.mark.parametrize(
        "kill_point,visible_after",
        [
            ("before_manifest", 0),
            ("after_manifest", 0),
            ("after_stage", 0),
            ("mid_append", 0),
            ("after_replace", 5),
            ("after_append", 5),
            ("after_publish", 5),
        ],
    )
    def test_crash_window_recovery(self, spark, shared_path, kill_point, visible_after):
        parent = EventStore(spark, shared_path)
        parent.register_decider_event("dec", "evt", "crash test")
        parent.append_event("evt", "seed-1", "dec", "seed", "{}")

        self._run_crash(shared_path, kill_point)
        crashed = self._check_crash_state(shared_path, kill_point)

        crash_rows = [
            {
                "event": "evt",
                "event_id": f"crash-{kill_point}-{i}",
                "decider": "dec",
                "decider_id": f"crash-{kill_point}",
                "data": "{}",
                "previous_id": None if i == 0 else f"crash-{kill_point}-{i-1}",
            }
            for i in range(5)
        ]
        # Replay the producer batch at-least-once style.  This is also the
        # first committer-guard acquisition after the crash, so it performs
        # marker roll-forward recovery — and must NOT block on the dead
        # holder's flock (kernel released it).
        t0 = time.time()
        parent.append_batch(crash_rows, on_conflict="ignore")
        assert time.time() - t0 < 60, "committer lock wedged by dead holder"

        ev = parent.events()
        crashed_rows = ev.filter(
            F.col("decider_id") == f"crash-{kill_point}"
        ).collect()
        crash_ids = [r["event_id"] for r in crashed_rows]
        # all-or-nothing + idempotent replay: exactly one copy of each
        assert sorted(crash_ids) == sorted(r["event_id"] for r in crash_rows)
        # recovery published a batch that landed whole, and the replay
        # appended nothing; otherwise the replay appended the whole batch
        # under the next commit.  A staged file is cleared.
        assert {r["transaction_id"] for r in crashed_rows} == {
            crashed if visible_after else crashed + 1
        }
        assert self._staged(shared_path) == []
        offsets = [r["offset"] for r in ev.select("offset").collect()]
        assert len(offsets) == len(set(offsets)), "colliding offsets after crash"
        # per-stream replay order intact
        replay = parent.get_events(f"crash-{kill_point}", "dec").collect()
        assert [r["event_id"] for r in replay] == [r["event_id"] for r in crash_rows]
        # downstream append still works and keeps offsets unique
        parent.append_event("evt", f"post-{kill_point}", "dec", "seed", "{}",
                            previous_id="seed-1")
        offsets2 = [r["offset"] for r in parent.events().select("offset").collect()]
        assert len(offsets2) == len(set(offsets2))

    def test_mid_append_partial_batch_quarantined(self, spark, shared_path):
        """A committer killed mid-job-commit leaves a
        SUBSET of the batch's files in the log dir.  Recovery must NOT
        publish that subset (batch atomicity / intra-batch previous_id
        chains) — the manifest's pending_rows count exposes the mismatch,
        the partial files are quarantined, and the replay lands the whole
        batch exactly once."""
        parent = EventStore(spark, shared_path)
        parent.register_decider_event("dec", "evt", "crash test")
        parent.append_event("evt", "seed-1", "dec", "seed", "{}")
        self._run_crash(shared_path, "mid_append")

        # a fresh pure reader triggers recovery: the partial batch must be
        # INVISIBLE (not 2 of 5 rows), the allocation burned
        reader = EventStore(spark, shared_path)
        n = reader.events().filter(
            F.col("decider_id") == "crash-mid_append"
        ).count()
        assert n == 0, f"partial batch published: {n} of 5 rows visible"
        assert reader.storage.read_published("events") == (
            reader.storage.read_manifest("events").commit_id
        )
        # per-stream chain integrity for every OTHER stream intact
        assert reader.events().filter(F.col("decider_id") == "seed").count() == 1

        # at-least-once replay: the whole batch lands under a fresh commit
        crash_rows = [
            {
                "event": "evt",
                "event_id": f"crash-mid_append-{i}",
                "decider": "dec",
                "decider_id": "crash-mid_append",
                "data": "{}",
                "previous_id": None if i == 0 else f"crash-mid_append-{i-1}",
            }
            for i in range(5)
        ]
        parent.append_batch(crash_rows, on_conflict="ignore")
        replay = parent.get_events("crash-mid_append", "dec").collect()
        assert [r["event_id"] for r in replay] == [r["event_id"] for r in crash_rows]
        offsets = [r["offset"] for r in parent.events().select("offset").collect()]
        assert len(offsets) == len(set(offsets)), "colliding offsets after quarantine"

    def test_torn_parquet_quarantined_not_left_behind(self, spark, shared_path):
        """A power loss can persist an append's rename while
        losing its data pages — an unreadable-footer .parquet in the log
        dir.  Left in place (txn_log_files cannot attribute it to a
        commit), such a file fails every subsequent log read.  They must be MOVED to _quarantine/ (never
        unlinked — bytes stay salvageable) and the log must read clean."""
        store = EventStore(spark, shared_path)
        store.register_decider_event("dec", "evt", "torn test")
        store.append_event("evt", "seed-1", "dec", "seed", "{}")
        st = store.storage
        m = st.read_manifest("events")
        # simulate the crash window: manifest advanced with pending_rows,
        # one torn file landed, marker never published
        st.write_manifest(
            "events",
            Manifest(
                max_offset=m.max_offset + 3,
                commit_id=m.commit_id + 1,
                pending_rows=3,
            ),
        )
        log_dir = st._log_dir("events")
        torn = os.path.join(log_dir, "part-99999-torn.parquet")
        with open(torn, "wb") as f:
            f.write(b"PAR1 these are not the data pages you are looking for")
        # a fresh reader triggers recovery and must read the log cleanly
        reader = EventStore(spark, shared_path)
        assert (
            reader.events().filter(F.col("decider_id") == "seed").count() == 1
        )
        assert not os.path.exists(torn), "torn file left in the log dir"
        qdir = os.path.join(log_dir, "_quarantine", f"txn_{m.commit_id + 1}")
        assert os.path.isdir(qdir) and os.listdir(qdir), (
            "torn file was not preserved in quarantine"
        )
        assert reader.storage.read_published("events") == m.commit_id + 1
        # the store keeps working: append + replay unaffected
        store.append_event("evt", "seed-2", "dec", "seed", "{}", previous_id="seed-1")
        assert store.get_events("seed", "dec").count() == 2

    def test_pure_reader_rolls_forward_orphaned_commit(self, spark, shared_path):
        """after_append: the batch is whole on disk but unpublished and
        every writer is dead.  A PURE READER (never appends) must still
        see it: _refresh_external detects published < manifest, takes the
        committer flock non-blocking (no live committer holds it), and
        rolls the marker forward — never a torn view."""
        parent = EventStore(spark, shared_path)
        parent.register_decider_event("dec", "evt", "crash test")
        parent.append_event("evt", "seed-1", "dec", "seed", "{}")
        self._run_crash(shared_path, "after_append")
        # fresh reader over the store path — no append ever issued
        reader = EventStore(spark, shared_path)
        n = reader.events().filter(
            F.col("decider_id") == "crash-after_append"
        ).count()
        assert n == 5, f"orphaned commit not recovered by reader: {n} of 5 rows"
        # recovery published the marker durably
        assert reader.storage.read_published("events") == (
            reader.storage.read_manifest("events").commit_id
        )

    def test_reader_does_not_recover_while_committer_lives(self, spark, shared_path):
        """The disambiguation arm: while a (simulated) live committer
        holds the flock mid-append, a reader seeing published < manifest
        must NOT roll forward (the batch may still be landing)."""
        parent = EventStore(spark, shared_path)
        parent.register_decider_event("dec", "evt", "crash test")
        parent.append_event("evt", "seed-1", "dec", "seed", "{}")
        # simulate a mid-append sibling: manifest advanced, marker not,
        # flock HELD (by a second lock handle, as another process would)
        from fstore_sql_spark.ledger import ProcessLock

        m = parent.storage.read_manifest("events")
        parent.storage.write_manifest(
            "events", Manifest(max_offset=m.max_offset + 3, commit_id=m.commit_id + 1)
        )
        holder = ProcessLock(
            os.path.join(parent.storage.root, "events_COMMITTER.lock")
        )
        assert holder.try_acquire()
        try:
            reader = EventStore(spark, shared_path)
            reader.events().count()  # triggers _refresh_external
            assert reader.storage.read_published("events") == m.commit_id, (
                "reader rolled forward under a live committer"
            )
        finally:
            holder.release()


class TestLiveSoakCrash:
    """The crash test at full shape: SIGKILL the committer MID-_commit while
    a live consumer is streaming and acking the same store, then recover
    by replay and assert end-to-end integrity (no partial batch, replay
    idempotent, gap-free per-stream delivery, nothing delivered twice
    after ack)."""

    N_BATCHES = 6
    BATCH = 20  # 4 lanes x 5 chained events
    KILL_BATCH = 3

    @pytest.mark.parametrize(
        "kill_point", ["after_manifest", "mid_append", "after_append"]
    )
    def test_ingest_stream_ack_soak_with_committer_kill(
        self, spark, shared_path, kill_point
    ):
        from tests._producer_worker import soak_batches, soak_producer_worker

        parent = EventStore(spark, shared_path)
        parent.register_decider_event("dec", "evt", "soak")
        past = "2000-01-01 00:00:00"
        parent.register_view("soak", start_at=past)

        ctx = mp.get_context("spawn")
        out = os.path.join(shared_path, f"soak_{kill_point}.json")
        p = ctx.Process(
            target=soak_producer_worker,
            args=(
                shared_path,
                out,
                self.N_BATCHES,
                self.BATCH,
                self.KILL_BATCH,
                kill_point,
            ),
        )
        p.start()

        # live consumer loop while the producer runs (and dies)
        delivered: list[tuple[str, int]] = []
        deadline = time.time() + 300
        while p.is_alive():
            assert time.time() < deadline, "producer never exited"
            rows = parent.stream_events("soak", limit=20).collect()
            for r in rows:
                delivered.append((r["decider_id"], r["offset"]))
                parent.ack_event("soak", r["decider_id"], r["offset"])
            if not rows:
                time.sleep(0.05)
        p.join(10)
        assert p.exitcode == 42, f"expected injected kill, got {p.exitcode}"

        # at-least-once recovery: replay EVERY batch; must be idempotent
        # for the committed prefix and append the missing suffix
        batches = soak_batches(self.N_BATCHES, self.BATCH)
        for rows in batches:
            parent.append_batch(rows, on_conflict="ignore")

        # drain the consumer to completion
        expected = {
            (r["decider_id"], r["event_id"]) for rows in batches for r in rows
        }
        deadline = time.time() + 300
        while True:
            rows = parent.stream_events("soak", limit=50).collect()
            if rows:
                for r in rows:
                    delivered.append((r["decider_id"], r["offset"]))
                    parent.ack_event("soak", r["decider_id"], r["offset"])
            else:
                # nothing claimable: done when everything was delivered
                if len({d for d, _ in delivered}) == self.N_BATCHES * 4:
                    break
            assert time.time() < deadline, (
                f"drain stalled: {len(delivered)} deliveries"
            )

        # log integrity: every event exactly once, offsets unique
        ev = parent.events().select("event_id", "decider_id", "offset").collect()
        ids = [r["event_id"] for r in ev]
        assert len(ids) == len(set(ids)) == len(expected)
        offsets = [r["offset"] for r in ev]
        assert len(offsets) == len(set(offsets))
        # delivery integrity: per-stream delivered offsets strictly
        # ascending (at-least-once allows redelivery only of unacked
        # offsets; every acked offset must advance)
        per_stream: dict[str, list[int]] = {}
        for d, o in delivered:
            per_stream.setdefault(d, []).append(o)
        for d, offs in per_stream.items():
            assert offs == sorted(offs), f"stream {d} delivered out of order"
            assert len(offs) == len(set(offs)), f"stream {d} re-delivered an acked offset"
        # completeness: every stream fully delivered through its tail
        tails = {
            r["decider_id"]: r["offset"]
            for r in parent.events()
            .groupBy("decider_id")
            .agg(F.max("offset").alias("offset"))
            .collect()
        }
        for d, hi in tails.items():
            assert per_stream.get(d, [])[-1] == hi, f"stream {d} tail undelivered"


class TestCombinedCrashSoak:
    """N producer + M consumer PROCESSES on one PAGED store (a budget of
    2 of its 8 shards, ``ShardedLocksLedger.MAX_RESIDENT_SHARDS``), SIGKILLing BOTH a committer (mid-append-job-commit — the
    partial-batch window) AND a claim-holding consumer, then recovering
    by replay + lease expiry.  Asserts exactly-once landing, gap-free
    per-stream chains, disjoint acks across every actor, and no stuck
    leases after recovery."""

    N_BATCHES = 4
    BATCH = 20  # 4 lanes x 5 chained events per producer batch
    KILL_BATCH = 2
    #: Lease for every LIVE actor in the soak.  Must exceed the worst
    #: claim→ack stall a live consumer can hit, or the strict ack-
    #: disjointness assertion (#3) fails on CONTRACT-LEGAL behavior: a
    #: consumer stalled past its lease gets its event redelivered
    #: (at-least-once, reference locked_until semantics) and BOTH acks
    #: land.  Measured: a loaded box's page-fault bursts
    #: stall a consumer's Spark session multi-second, and the old 8 s
    #: lease produced 12 duplicate acks in one file-scope run (and
    #: passed solo) — a box-regime flake, not an engine bug.  45 s
    #: keeps #3 strict (it still catches SIMULTANEOUS double-claims)
    #: while covering the stall tail; c0's killed-holder redelivery is
    #: unaffected — its leases still expire, just later, well inside
    #: the 300 s drain deadline.
    LEASE_S = 45

    def test_producers_consumers_paging_and_kills(
        self, spark, shared_path, monkeypatch
    ):
        from fstore_sql_spark.ledger import ShardedLocksLedger
        from tests._producer_worker import (
            soak_batches,
            soak_consumer_worker,
            soak_producer_worker,
        )

        monkeypatch.setattr(ShardedLocksLedger, "MAX_RESIDENT_SHARDS", 2)
        parent = EventStore(spark, shared_path)
        assert parent.ledger.max_resident == 2
        parent.register_decider_event("dec", "evt", "combined soak")
        parent.register_view("soak", start_at="2000-01-01 00:00:00")

        ctx = mp.get_context("spawn")
        stop_path = os.path.join(shared_path, "CONSUMERS_STOP")
        p0_out = os.path.join(shared_path, "prod0.json")
        p1_out = os.path.join(shared_path, "prod1.json")
        c0_out = os.path.join(shared_path, "cons0.json")
        c1_out = os.path.join(shared_path, "cons1.json")
        procs = {
            # producer 0: SIGKILL mid-append-job-commit at batch KILL_BATCH
            "p0": ctx.Process(
                target=soak_producer_worker,
                args=(shared_path, p0_out, self.N_BATCHES, self.BATCH,
                      self.KILL_BATCH, "mid_append", "a"),
            ),
            # producer 1: clean full run (kill batch beyond the end)
            "p1": ctx.Process(
                target=soak_producer_worker,
                args=(shared_path, p1_out, self.N_BATCHES, self.BATCH,
                      self.N_BATCHES + 1, "after_append", "b"),
            ),
            # consumer 0: dies holding fresh un-acked leases
            "c0": ctx.Process(
                target=soak_consumer_worker,
                args=(shared_path, c0_out, "soak", stop_path, 25,
                      self.LEASE_S, 2),
            ),
            # consumer 1: clean paged consumer until drained
            "c1": ctx.Process(
                target=soak_consumer_worker,
                args=(shared_path, c1_out, "soak", stop_path, None,
                      self.LEASE_S, 2),
            ),
        }
        for p in procs.values():
            p.start()
        # wait for both producers (p0 must die with the injected kill)
        procs["p0"].join(300)
        procs["p1"].join(300)
        assert procs["p0"].exitcode == 42, f"p0 exit {procs['p0'].exitcode}"
        assert procs["p1"].exitcode == 0, f"p1 exit {procs['p1'].exitcode}"
        # wait for the claim-holder kill
        procs["c0"].join(300)
        assert procs["c0"].exitcode == 42, f"c0 exit {procs['c0'].exitcode}"

        # at-least-once recovery: replay EVERY batch of the dead producer
        batches_a = soak_batches(self.N_BATCHES, self.BATCH, prefix="a")
        for rows in batches_a:
            parent.append_batch(rows, on_conflict="ignore")

        # drain to completion alongside the surviving consumer; c0's
        # killed leases (LEASE_S) must expire and redeliver to SOMEONE
        expected_tails = {
            r["decider_id"]: r["offset"]
            for r in parent.events()
            .groupBy("decider_id")
            .agg(F.max("offset").alias("offset"))
            .collect()
        }
        parent_acked: list[tuple[str, int]] = []
        deadline = time.time() + 300

        def all_ack_sets():
            out = [list(parent_acked)]
            for f in (c0_out, c1_out):
                try:
                    with open(f, encoding="utf-8") as fh:
                        out.append([tuple(x) for x in json.load(fh)["acked"]])
                except (OSError, ValueError):
                    out.append([])
            return out

        while True:
            rows = parent.stream_events(
                "soak", limit=50, seconds=self.LEASE_S
            ).collect()
            if rows:
                parent.ack_events(
                    "soak", [(r["decider_id"], r["offset"]) for r in rows],
                    returning=False,
                )
                parent_acked.extend((r["decider_id"], r["offset"]) for r in rows)
            else:
                acked_union: dict[str, int] = {}
                for s in all_ack_sets():
                    for d, o in s:
                        acked_union[d] = max(acked_union.get(d, 0), o)
                if all(
                    acked_union.get(d, 0) >= hi for d, hi in expected_tails.items()
                ):
                    break
                time.sleep(0.2)
            assert time.time() < deadline, (
                f"combined drain stalled; tails missing: "
                f"{[d for d, hi in expected_tails.items() if acked_union.get(d, 0) < hi][:5]}"
            )
        with open(stop_path, "w", encoding="utf-8") as f:
            f.write("done")
        procs["c1"].join(120)
        assert procs["c1"].exitcode == 0, f"c1 exit {procs['c1'].exitcode}"

        # 1. exactly-once landing: both producers' full event sets, no
        # partial-batch leftovers, unique offsets
        expected_ids = {
            r["event_id"]
            for rows in batches_a + soak_batches(self.N_BATCHES, self.BATCH, "b")
            for r in rows
        }
        ev = parent.events().select("event_id", "decider_id", "offset").collect()
        ids = [r["event_id"] for r in ev]
        assert len(ids) == len(set(ids)), "duplicate event committed"
        assert set(ids) == expected_ids, (
            f"log mismatch: {len(ids)} vs {len(expected_ids)} expected"
        )
        offsets = [r["offset"] for r in ev]
        assert len(offsets) == len(set(offsets)), "colliding offsets"
        # 2. gap-free per-stream chains in replay order
        for prefix in ("a", "b"):
            replay = parent.get_events(f"{prefix}0-l0", "dec").collect()
            assert [r["event_id"] for r in replay] == [
                f"{prefix}0-l0-e{i}" for i in range(self.BATCH // 4)
            ]
        # 3. ack disjointness across ALL actors (parent + 2 consumers):
        # an acked offset must never have been acked twice
        everything = [p for s in all_ack_sets() for p in s]
        assert len(everything) == len(set(everything)), (
            "the same (partition, offset) was acked by two actors"
        )
        # 4. no stuck leases: every partition fully consumed and released
        stuck = parent.locks().filter("last_offset < offset").count()
        assert stuck == 0, f"{stuck} partitions left undelivered/stuck"
