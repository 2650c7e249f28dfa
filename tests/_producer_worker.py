"""Spawn-safe child-process workers for the cross-process COMMITTER tests
(racing producers, committer crash windows, the combined soak).

Each worker builds its own SparkSession (own JVM) over the SHARED store
path — the two-connections-one-database scenario the reference exercises in
``/root/reference/tests/integration/concurrency/test_concurrent_producers.sql``.
Kept outside the test modules so ``multiprocessing`` spawn children never
import pytest."""

from __future__ import annotations

import json
import os


def _small_spark(app_name: str):
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from fstore_sql_spark import get_spark

    return get_spark(app_name=app_name, master="local[2]", shuffle_partitions=2)


def append_worker(
    root: str,
    out_path: str,
    worker_id: int,
    n_batches: int,
    batch_size: int,
    barrier_path: str,
) -> None:
    """One producer process: open the shared store, wait at a file barrier
    until every sibling is ready (maximizing commit overlap), then append
    ``n_batches`` batches to worker-local decider streams.  Records every
    event_id it believes it committed; the parent asserts the union landed
    exactly once with gap-free offsets."""
    from fstore_sql_spark import EventStore

    spark = _small_spark(f"producer-{worker_id}")
    store = EventStore(spark, root)
    # barrier: parent creates the file once all workers reported ready
    ready = f"{out_path}.ready"
    with open(ready, "w", encoding="utf-8") as f:
        f.write("1")
    import time

    deadline = time.time() + 120
    while not os.path.exists(barrier_path):
        if time.time() > deadline:
            raise TimeoutError("barrier never opened")
        time.sleep(0.01)

    committed: list[str] = []
    errors_seen: list[str] = []
    for b in range(n_batches):
        rows = []
        prev = None
        for i in range(batch_size):
            eid = f"w{worker_id}-b{b}-e{i}"
            rows.append(
                {
                    "event": "evt",
                    "event_id": eid,
                    "decider": "dec",
                    "decider_id": f"w{worker_id}-b{b}",
                    "data": "{}",
                    "previous_id": prev,
                }
            )
            prev = eid
        try:
            store.append_batch(rows)
            committed.extend(r["event_id"] for r in rows)
        except Exception as e:  # loud failure is an acceptable outcome
            errors_seen.append(f"{type(e).__name__}: {e}")
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump({"committed": committed, "errors": errors_seen}, f)
    spark.stop()


def arm_kill(store, kill_point: str) -> None:
    """Make this process SIGKILL itself (``os._exit(42)``: no cleanup, no
    finally blocks) at ``kill_point`` in ``store``'s next commit to the
    ``events`` log — the crash windows of the manifest-first protocol:

    - ``before_manifest``: before the manifest advances (nothing durable
      happened — the full batch must be absent).
    - ``after_manifest``: manifest advanced, log write never ran — the
      documented rollback-gap window (SURVEY.md §7.4): offsets are
      burned, no rows may be visible.
    - ``after_stage``: the driver writer's file is written and fsync'd
      under ``_staging/`` but never renamed into the log — no rows may
      be visible, and recovery clears the staging.
    - ``after_replace``: the file is renamed into the log, the directory
      fsync and the ``_PUBLISHED`` marker never ran — the batch is whole
      on disk, and recovery publishes it.
    - ``after_append``: the log write returned, the marker never written
      — as ``after_replace``; a replay with on_conflict='ignore' must be
      a no-op.
    - ``mid_append``: the batch goes down the set path (the store's
      ``INDEX_PATH_MAX_ROWS`` at 0) and its Spark write is interrupted
      after a SUBSET of the batch's rows landed — recovery must
      QUARANTINE the partial files (publishing them would break batch
      atomicity), burn the allocation, and let the replay re-append the
      whole batch.
    - ``after_publish``: the marker written, the watermark not folded.

    Every window but ``mid_append`` hits a small batch on the index
    path, whose one file the driver writes (``write_log_table``)."""
    from fstore_sql_spark import storage
    from fstore_sql_spark.storage import ParquetStore

    def die():
        os._exit(42)

    def die_after(name):
        orig = getattr(ParquetStore, name)

        def wrapped(self, table, *a, **k):
            orig(self, table, *a, **k)
            if table == "events":
                die()

        setattr(ParquetStore, name, wrapped)

    if kill_point == "before_manifest":
        ParquetStore.write_manifest = lambda *a, **k: die()
    elif kill_point == "after_manifest":
        die_after("write_manifest")
    elif kill_point == "after_stage":
        stage = ParquetStore._stage_log_file

        def _stage(log_dir, t):
            stage(log_dir, t)
            die()

        ParquetStore._stage_log_file = staticmethod(_stage)
    elif kill_point == "after_replace":
        log_dir = store.storage._log_dir("events")
        fsync_dir = storage._fsync_dir

        def _fsync(path):
            if path == log_dir:  # only write_log_table syncs the log dir
                die()
            fsync_dir(path)

        storage._fsync_dir = _fsync
    elif kill_point == "after_append":
        die_after("write_log_table")
    elif kill_point == "mid_append":
        store.INDEX_PATH_MAX_ROWS = 0
        append_log = ParquetStore.append_log

        def _al_partial(self, table, df, cluster_by=None):
            if table == "events":
                # land a strict subset of the batch's rows, then die —
                # what an interrupted FileOutputCommitter job commit
                # leaves behind
                append_log(self, table, df.limit(2), cluster_by=cluster_by)
                die()
            append_log(self, table, df, cluster_by=cluster_by)

        ParquetStore.append_log = _al_partial
    elif kill_point == "after_publish":
        die_after("write_published")
    else:
        raise ValueError(kill_point)


def crash_committer_worker(root: str, out_path: str, kill_point: str) -> None:
    """A committer that appends one 5-row batch and SIGKILLs itself at
    ``kill_point`` (``arm_kill``) while the committer flock is HELD —
    the kernel must release it so the next producer is not wedged."""
    from fstore_sql_spark import EventStore

    spark = _small_spark("crash-committer")
    store = EventStore(spark, root)
    arm_kill(store, kill_point)

    with open(out_path, "w", encoding="utf-8") as f:
        f.write("started")
    rows = [
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
    store.append_batch(rows)  # never returns for any valid kill_point
    with open(out_path, "w", encoding="utf-8") as f:
        f.write("survived")  # parent treats this as a harness bug


def soak_batches(
    n_batches: int, batch_size: int, prefix: str = "s"
) -> list[list[dict]]:
    """Deterministic soak workload shared by producer and replayer: one
    NEW stream per (batch, lane), events chained within the batch via
    explicit seq (DataFrame-free dict batches keep list order).
    ``prefix`` namespaces streams per producer for multi-producer soaks."""
    out = []
    for b in range(n_batches):
        rows = []
        lanes = 4
        per_lane = batch_size // lanes
        for lane in range(lanes):
            prev = None
            for i in range(per_lane):
                eid = f"{prefix}{b}-l{lane}-e{i}"
                rows.append(
                    {
                        "event": "evt",
                        "event_id": eid,
                        "decider": "dec",
                        "decider_id": f"{prefix}{b}-l{lane}",
                        "data": "{}",
                        "previous_id": prev,
                        "seq": lane * per_lane + i,
                    }
                )
                prev = eid
        out.append(rows)
    return out


def soak_producer_worker(
    root: str,
    out_path: str,
    n_batches: int,
    batch_size: int,
    kill_batch: int,
    kill_point: str,
    prefix: str = "s",
) -> None:
    """Live-soak committer: appends batches continuously while the parent
    consumes; at ``kill_batch`` arms the same SIGKILL injection as
    crash_committer_worker (``arm_kill``), so the death happens during
    real interleaved ingest→stream→ack traffic."""
    import json as _json

    from fstore_sql_spark import EventStore

    spark = _small_spark("soak-producer")
    store = EventStore(spark, root)
    batches = soak_batches(n_batches, batch_size, prefix=prefix)

    done = []
    for b, rows in enumerate(batches):
        if b == kill_batch:
            with open(out_path, "w", encoding="utf-8") as f:
                _json.dump({"completed_batches": done, "armed": True}, f)
            arm_kill(store, kill_point)
        store.append_batch(rows)
        done.append(b)
        with open(out_path, "w", encoding="utf-8") as f:
            _json.dump({"completed_batches": done, "armed": b >= kill_batch}, f)
    # only reached when kill_batch >= n_batches (no-kill control run)
    spark.stop()


def soak_consumer_worker(
    root: str,
    out_path: str,
    view: str,
    stop_path: str,
    kill_after_claims: int | None = None,
    lease_s: int = 8,
    max_resident: int = 2,
) -> None:
    """Full-engine consumer process for the combined crash soak: opens
    the shared store PAGED (``max_resident`` of its 8 shards resident
    for ledger AND hwm, set as ``ShardedLocksLedger.MAX_RESIDENT_SHARDS``
    before the open), loops stream→ack, records every
    acked (decider_id, offset) incrementally (flushed per round so a
    SIGKILL loses nothing already acked), and — when
    ``kill_after_claims`` is set — dies by ``os._exit`` while HOLDING
    freshly claimed, UN-acked leases: the claim-holder-kill half of the
    soak.  A clean consumer exits when ``stop_path`` appears and a final
    empty round confirms the store is drained for it."""
    import json as _json
    import time as _time

    from fstore_sql_spark import EventStore
    from fstore_sql_spark.ledger import ShardedLocksLedger

    spark = _small_spark(f"soak-consumer-{os.path.basename(out_path)}")
    ShardedLocksLedger.MAX_RESIDENT_SHARDS = max_resident
    store = EventStore(spark, root)
    acked: list[tuple[str, int]] = []
    claims = 0

    def flush():
        tmp = f"{out_path}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            _json.dump({"acked": acked, "claims": claims}, f)
        os.replace(tmp, out_path)

    flush()
    deadline = _time.time() + 240
    while _time.time() < deadline:
        rows = store.stream_events(view, limit=10, seconds=lease_s).collect()
        claims += len(rows)
        if (
            kill_after_claims is not None
            and claims >= kill_after_claims
            and rows
        ):
            # die holding these un-acked leases (progress already flushed)
            flush()
            os._exit(42)
        if rows:
            store.ack_events(
                view,
                [(r["decider_id"], r["offset"]) for r in rows],
                returning=False,
            )
            acked.extend((r["decider_id"], r["offset"]) for r in rows)
            flush()
        else:
            if os.path.exists(stop_path):
                break
            _time.sleep(0.1)
    flush()
    spark.stop()
