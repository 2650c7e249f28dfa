"""Event-sourcing core tests, mirroring the reference suite
(/root/reference/tests/unit/event-sourcing/*.sql and
 tests/integration/end-to-end/test_readme_examples.sql)."""

import uuid

import pytest
from test_index_path import _jobs

from fstore_sql_spark import (
    DuplicateEventIdError,
    DuplicateRegistrationError,
    FirstEventError,
    OptimisticLockError,
    PreviousIdError,
    StreamFinalizedError,
    UnregisteredEventError,
)


def uid() -> str:
    return str(uuid.uuid4())


def test_register_decider_event(store):
    # test_register_decider_event.sql: basic registration + returned row
    out = store.register_decider_event("decider1", "event1", "first event").collect()
    assert len(out) == 1
    assert out[0]["decider"] == "decider1"
    assert out[0]["event_version"] == 1
    # versioned registration is a distinct key (…:48-71)
    store.register_decider_event("decider1", "event1", "v2", event_version=2)
    assert store.deciders().count() == 2


def test_register_duplicate_fails(store):
    store.register_decider_event("d", "e", "x")
    with pytest.raises(DuplicateRegistrationError):
        store.register_decider_event("d", "e", "y")


def test_register_duplicate_runs_no_spark_job(spark, store):
    """The duplicate check reads C3's registry memo: a duplicate raises
    without a Spark job, and a new version of the same event is not a
    duplicate."""
    store.register_decider_event("d", "e", "x")

    def dup():
        with pytest.raises(DuplicateRegistrationError):
            store.register_decider_event("d", "e", "y")

    assert _jobs(spark, dup) == 0
    store.register_decider_event("d", "e", "v2", event_version=2)
    assert _jobs(spark, dup) == 0


def test_readme_flow(store):
    """README.md:96-124 flow: register → append 2 chained events →
    get_events returns both, ordered, linked."""
    store.register_decider_event("decider1", "event1", "first")
    store.register_decider_event("decider1", "event2", "second")
    e1, e2 = uid(), uid()
    r1 = store.append_event("event1", e1, "decider1", "stream-1", '{"a":1}').collect()
    assert r1[0]["offset"] == 1
    assert r1[0]["previous_id"] is None
    r2 = store.append_event(
        "event2", e2, "decider1", "stream-1", '{"b":2}', previous_id=e1
    ).collect()
    assert r2[0]["offset"] == 2
    got = store.get_events("stream-1", "decider1").collect()
    assert [r["event_id"] for r in got] == [e1, e2]
    assert got[1]["previous_id"] == e1
    last = store.get_last_event("stream-1", "decider1").collect()
    assert last[0]["event_id"] == e2


def test_append_unregistered_event_fails(store):
    with pytest.raises(UnregisteredEventError):
        store.append_event("nope", uid(), "decider1", "s1")


def test_append_wrong_version_fails(store):
    # test_foreign_key_uniqueness_constraints.sql:46-67
    store.register_decider_event("d", "e", "x", event_version=1)
    with pytest.raises(UnregisteredEventError):
        store.append_event("e", uid(), "d", "s1", event_version=2)


def test_sequencing_triggers(store):
    store.register_decider_event("d", "e", "x")
    e1 = uid()
    store.append_event("e", e1, "d", "s1")
    # T2: null previous_id on non-empty stream
    with pytest.raises(FirstEventError, match="previous_id can only be null"):
        store.append_event("e", uid(), "d", "s1")
    # T3: previous_id from another stream
    store.append_event("e", uid(), "d", "s2")
    with pytest.raises(PreviousIdError, match="must be in the same decider"):
        store.append_event("e", uid(), "d", "s2", previous_id=e1)
    # C2: optimistic lock — second claim of the same predecessor
    store.append_event("e", uid(), "d", "s1", previous_id=e1)
    with pytest.raises(OptimisticLockError):
        store.append_event("e", uid(), "d", "s1", previous_id=e1)


def test_final_stream_closed(store):
    # test_event_sequencing_triggers.sql:12-46
    store.register_decider_event("d", "e", "x")
    e1 = uid()
    store.append_event("e", e1, "d", "s1")
    store.append_event("e", uid(), "d", "s1", previous_id=e1, final=True)
    last = store.get_last_event("s1", "d").collect()[0]
    with pytest.raises(StreamFinalizedError, match="stream is closed"):
        store.append_event("e", uid(), "d", "s1", previous_id=last["event_id"])


def test_duplicate_event_id_fails(store):
    store.register_decider_event("d", "e", "x")
    e1 = uid()
    store.append_event("e", e1, "d", "s1")
    with pytest.raises(DuplicateEventIdError):
        store.append_event("e", e1, "d", "s2")


def test_shared_decider_id_across_types(store):
    """test_get_events.sql:76-110 — same decider_id under two decider types;
    get_events filters by both; get_last_event only by decider_id (quirk)."""
    store.register_decider_event("typeA", "e", "x")
    store.register_decider_event("typeB", "e", "x")
    a1 = uid()
    store.append_event("e", a1, "typeA", "shared")
    store.append_event("e", uid(), "typeB", "shared")
    assert store.get_events("shared", "typeA").count() == 1
    assert store.get_events("shared", "typeB").count() == 1
    # quirk: last event ignores the decider filter → returns typeB's event
    last = store.get_last_event("shared", "typeA").collect()[0]
    assert last["decider"] == "typeB"


def test_batch_append_chain(store):
    """Bulk path: a chained batch in one append_batch call."""
    store.register_decider_event("d", "e", "x")
    ids = [uid() for _ in range(5)]
    rows = []
    for i, eid in enumerate(ids):
        rows.append(
            {
                "event": "e",
                "event_id": eid,
                "decider": "d",
                "decider_id": "s1",
                "previous_id": ids[i - 1] if i else None,
            }
        )
    out = store.append_batch(rows).collect()
    assert [r["offset"] for r in sorted(out, key=lambda r: r["offset"])] == [1, 2, 3, 4, 5]
    got = store.get_events("s1", "d").collect()
    assert [r["event_id"] for r in got] == ids


def test_offsets_global_monotonic(store):
    store.register_decider_event("d", "e", "x")
    store.append_event("e", uid(), "d", "s1")
    store.append_event("e", uid(), "d", "s2")
    store.append_event("e", uid(), "d", "s3")
    offsets = [r["offset"] for r in store.events().orderBy("offset").collect()]
    assert offsets == [1, 2, 3]


def test_large_batch_offsets_contiguous(store, spark):
    """Regression: offset assignment across MULTIPLE range partitions must
    write every row exactly once with contiguous offsets in seq order.
    (A plan-fork bug once let AQE coalesce the two branches of the
    two-phase numbering to different partition counts, silently dropping
    rows at the _pid join.)"""
    from pyspark.sql import functions as F

    store.register_decider_event("d", "e", "")
    n = 5000
    batch = (
        spark.range(n)
        .select(
            F.lit("e").alias("event"),
            F.concat(F.lit("ev-"), F.col("id")).alias("event_id"),
            F.lit(1).cast("long").alias("event_version"),
            F.lit("d").alias("decider"),
            F.concat(F.lit("p"), F.col("id")).alias("decider_id"),
            F.lit("{}").alias("data"),
            F.concat(F.lit("c-"), F.col("id")).alias("command_id"),
            F.lit(None).cast("string").alias("previous_id"),
            F.lit(False).alias("final"),
            F.col("id").alias("seq"),
        )
        .repartition(8)  # force a multi-partition candidate frame
    )
    store.append_batch(batch)
    ev = store.events()
    agg = ev.agg(
        F.count("*").alias("n"),
        F.min("offset").alias("lo"),
        F.max("offset").alias("hi"),
        F.count_distinct("offset").alias("nd"),
    ).collect()[0]
    assert agg["n"] == n and agg["nd"] == n, agg
    assert agg["lo"] == 1 and agg["hi"] == n, agg
    # offsets follow seq order: offset == seq + 1 for this batch
    mismatched = ev.filter(
        F.col("offset") != F.col("decider_id").substr(2, 20).cast("long") + 1
    ).count()
    assert mismatched == 0


def test_snapshot_reads_are_consistent_prefixes(store):
    """events_as_of(t) returns the exact log prefix committed by t —
    whole batches only, chains intact (engine time-travel; the reference's
    XID8 snapshot marker generalized)."""
    import uuid as _u

    store.register_decider_event("d", "e", "x")
    t0 = store.current_transaction_id()
    first = str(_u.uuid4())
    store.append_event("e", first, "d", "p1")
    t1 = store.current_transaction_id()
    store.append_batch(
        [
            {"event": "e", "event_id": str(_u.uuid4()), "decider": "d",
             "decider_id": "p1", "previous_id": first},
            {"event": "e", "event_id": str(_u.uuid4()), "decider": "d",
             "decider_id": "p2"},
        ]
    )
    t2 = store.current_transaction_id()

    assert t0 < t1 < t2
    assert store.events_as_of(t0).count() == 0
    assert store.events_as_of(t1).count() == 1
    assert store.events_as_of(t2).count() == 3
    # as-of replay of one stream: only the first event existed at t1.
    replay = store.get_events("p1", "d", as_of=t1).collect()
    assert [r["event_id"] for r in replay] == [first]
    # the batch is atomic in snapshot space: no t exposes half of it.
    assert store.events_as_of(t2 - 1).count() == 1


def test_r1_r4_mutations_silently_ignored(store):
    """R1-R4 (/root/reference/schema.sql:58-72): DELETE/UPDATE against
    events and deciders are silent no-ops — zero rows affected, no error,
    state unchanged."""
    store.register_decider_event("d", "e", "x")
    eid = uid()
    store.append_event("e", eid, "d", "p1")
    assert store.delete_events() == 0
    assert store.update_events(decider_id="p1") == 0
    assert store.delete_decider_events("d") == 0
    assert store.update_decider_events("d", description="y") == 0
    assert store.events().count() == 1
    assert store.deciders().count() == 1
    assert store.deciders().first()["description"] == "x"


def test_append_on_conflict_ignore_replays_suffix(store):
    """at-least-once recovery: replaying a partially-committed producer
    batch with on_conflict='ignore' appends only the missing suffix; a
    full duplicate replay is a no-op; strict mode still errors."""
    import pytest as _pytest

    from fstore_sql_spark import errors as _errors

    store.register_decider_event("d", "e", "x")
    e1, e2, e3 = uid(), uid(), uid()
    batch = [
        {"event": "e", "event_id": e1, "decider": "d", "decider_id": "p1"},
        {"event": "e", "event_id": e2, "decider": "d", "decider_id": "p1",
         "previous_id": e1},
    ]
    store.append_batch(batch)
    # crash-replay: first two again plus the unwritten third
    replay = batch + [
        {"event": "e", "event_id": e3, "decider": "d", "decider_id": "p1",
         "previous_id": e2},
    ]
    out = store.append_batch(replay, on_conflict="ignore").collect()
    assert [r["event_id"] for r in out] == [e3]
    assert store.events().count() == 3
    # full duplicate replay: clean no-op
    assert store.append_batch(replay, on_conflict="ignore").count() == 0
    assert store.events().count() == 3
    # strict mode still rejects duplicates (replaying just e2: passes
    # T1-T3 — predecessor exists in-stream — then C1 fires on the id;
    # replaying the FULL batch would trip T2 first, trigger order being
    # triggers-before-constraints exactly as in the reference)
    with _pytest.raises(_errors.DuplicateEventIdError):
        store.append_batch([batch[1]])


def test_stats_snapshot(store, spark):
    from test_index_path import _jobs

    store.register_decider_event("d", "e", "x")
    store.append_event("e", uid(), "d", "p1")
    store.append_event("e", uid(), "d", "p2")
    store.register_view("v", start_at="2020-01-01 00:00:00")
    s = store.stats()
    assert s["n_events"] == 2 and s["n_partitions"] == 2
    assert s["max_offset"] == 2 and s["commit_id"] == 2
    assert s["n_registered_events"] == 1 and s["n_views"] == 1
    assert s["log_files"] >= 1 and s["state_versions"]["views"] >= 1
    # the log counts come from footers and a driver-side read, the
    # registry sizes from pyarrow memos: stats() runs no Spark job
    assert _jobs(spark, store.stats) == 0


def test_get_events_many_replays_selected_streams(store):
    store.register_decider_event("d1", "e", "x")
    store.register_decider_event("d2", "e", "x")
    ids = {}
    for dec, did in (("d1", "a"), ("d1", "b"), ("d2", "a"), ("d2", "c")):
        prev = None
        for i in range(2):
            eid = f"{dec}-{did}-{i}"
            store.append_event("e", eid, dec, did, "{}", f"c-{eid}", prev)
            prev = eid
        ids[(did, dec)] = prev
    out = store.get_events_many([("a", "d1"), ("c", "d2")]).collect()
    assert len(out) == 4
    # contiguous per stream, offset-ordered within each
    keys = [(r.decider_id, r.decider) for r in out]
    assert keys == [("a", "d1"), ("a", "d1"), ("c", "d2"), ("c", "d2")]
    offs = [r.offset for r in out]
    assert offs[0] < offs[1] and offs[2] < offs[3]
    # the shared decider_id 'a' under d2 is NOT included (pair semantics)
    assert all(not (r.decider_id == "a" and r.decider == "d2") for r in out)


def test_refresh_keys_on_publish_marker_not_manifest(store, spark):
    """Commit VISIBILITY contract: a sibling reader must
    invalidate its caches only when the post-append _PUBLISHED marker
    advances — never on the pre-append allocation manifest, which moves
    BEFORE the log files land (reacting to it caches a partial batch and
    marks it fresh)."""
    from fstore_sql_spark.storage import Manifest

    store.register_decider_event("d", "e", "x")
    store.append_event("e", uid(), "d", "p1")
    reader = type(store)(spark, store.storage.root)
    assert reader.events().count() == 1
    seen = reader._seen_commit_id

    # simulate a sibling mid-append: manifest (allocation) advanced, no
    # publish marker yet, committer flock HELD (a live committer always
    # holds it — without the flock this state is a CRASHED
    # committer and the reader correctly rolls the marker forward, see
    # test_pure_reader_rolls_forward_orphaned_commit) → the reader must
    # NOT invalidate
    import os as _os

    from fstore_sql_spark.ledger import ProcessLock

    m = store.storage.read_manifest("events")
    store.storage.write_manifest("events", Manifest(m.max_offset + 1, m.commit_id + 7))
    holder = ProcessLock(_os.path.join(store.storage.root, "events_COMMITTER.lock"))
    assert holder.try_acquire()
    try:
        reader._refresh_external()
        assert reader._seen_commit_id == seen  # untouched — still unpublished
    finally:
        holder.release()

    # the append completes: marker advances → reader invalidates and sees it
    store.storage.write_manifest("events", m)  # restore
    last = store.get_last_event("p1", "d").collect()[0]
    store.append_event("e", uid(), "d", "p1", previous_id=last["event_id"])
    reader._refresh_external()
    assert reader._seen_commit_id != seen
    assert reader.events().count() == 2


def test_maybe_compact_thresholds(store):
    """Opportunistic compaction: a no-op below the file threshold, a real
    compaction (fewer files, log intact) above it."""
    store.register_decider_event("d", "e", "x")
    for i in range(3):
        store.append_event("e", uid(), "d", f"p{i}")
    n_files = store.storage.log_file_count("events")
    assert store.maybe_compact(max_files=n_files) is None  # under threshold
    out = store.maybe_compact(max_files=1)
    assert out is not None and out <= n_files
    assert store.events().count() == 3
    assert [r["offset"] for r in store.get_events("p1", "d").collect()] == [2]


@pytest.mark.slow
def test_compaction_policy_bounds_replay_latency(store, spark):
    """Soak many small append ticks under
    the recommended ``maybe_compact`` cadence and assert the policy holds
    what it promises — the current-generation file count stays bounded by
    the threshold (plus the files of the ticks since the last trigger),
    at least one compaction actually fired, the log is intact, and the
    probe partition's replay latency stays bounded (generous absolute
    bound: the latency curve itself is in BASELINE.md "compaction
    policy measurement")."""
    import time as _time

    store.register_decider_event("probe", "tick", "soak")
    max_files = 12
    prev = None
    worst_files = 0
    fired = 0
    ticks = 40
    for t in range(ticks):
        eid = f"t{t:04d}"
        rows = [("tick", eid, 1, "probe", "pp", "{}", eid, prev)]
        rows += [
            ("tick", f"{eid}_{i}", 1, "probe", f"d{t:04d}_{i}", "{}",
             f"{eid}_{i}", None)
            for i in range(3)
        ]
        df = spark.createDataFrame(
            rows,
            "event string, event_id string, event_version long, "
            "decider string, decider_id string, data string, "
            "command_id string, previous_id string",
        )
        store.append_batch(df)
        prev = eid
        if store.maybe_compact(max_files=max_files) is not None:
            fired += 1
        worst_files = max(worst_files, store.storage.log_file_count("events"))
    assert fired >= 1, "soak never crossed the compaction threshold"
    # bounded: the sawtooth peak is threshold + one tick's worth of files
    per_tick = max(1, worst_files // ticks)
    assert store.storage.log_file_count("events") <= max_files + 4 * per_tick
    t0 = _time.time()
    offsets = [r["offset"] for r in store.get_events("pp", "probe").collect()]
    replay_s = _time.time() - t0
    assert offsets == sorted(offsets) and len(offsets) == ticks
    assert store.events().count() == ticks * 4  # nothing lost
    assert replay_s < 10.0, f"replay latency unbounded: {replay_s:.1f}s"


def test_sql_views_stay_live_across_appends(store):
    """register_sql_views must re-bind after commits: a temp view frozen
    at registration time served the pre-append log forever."""
    import uuid

    store.register_decider_event("counter", "sqlv_evt", "fin")
    store.append_event("sqlv_evt", str(uuid.uuid4()), "counter", "sqlv_p1", data="{}")
    store.register_sql_views(prefix="live_")
    n0 = store.spark.sql("select count(*) c from live_events").first()["c"]
    store.append_event("sqlv_evt", str(uuid.uuid4()), "counter", "sqlv_p2", data="{}")
    n1 = store.spark.sql("select count(*) c from live_events").first()["c"]
    assert n1 == n0 + 1, "temp view froze at registration-time snapshot"
    # registry views re-bind too
    store.register_decider_event("other", "sqlv_evt2", "fin")
    assert (
        store.spark.sql(
            "select count(*) c from live_deciders where decider = 'other'"
        ).first()["c"]
        == 1
    )


def test_sql_views_follow_sibling_registrations(store, spark):
    """A sibling's registrations flip the registry snapshot, and its GC
    deletes old ones: once this store reads the registry, its temp views
    must follow, not keep a deleted snapshot."""
    store.register_decider_event("d", "e0", "x")
    store.register_sql_views(prefix="sib_")
    sibling = type(store)(spark, store.storage.root)
    for i in range(1, 6):
        sibling.register_decider_event("d", f"e{i}", "x")
    store.deciders()
    assert spark.sql("select count(*) c from sib_deciders").first()["c"] == 6


def test_dataframe_without_seq_gets_deterministic_hash_order(store, spark):
    """A caller DataFrame with no ``seq`` has no defined order; the engine
    must assign one that is DETERMINISTIC across retries/re-runs
    (a row_number over monotonically_increasing_id could renumber on a
    task retry).  Pin: two identical appends into two fresh stores produce
    identical (event_id -> offset) maps, equal to xxhash64 order."""
    import shutil as _sh
    import tempfile as _tf

    from pyspark.sql import functions as F

    from fstore_sql_spark import EventStore

    batch = (
        spark.range(0, 500)
        .select(
            F.lit("e").alias("event"),
            F.concat(F.lit("ev-"), F.col("id")).alias("event_id"),
            F.lit("d").alias("decider"),
            F.concat(F.lit("p"), F.col("id")).alias("decider_id"),
            F.lit("{}").alias("data"),
            F.concat(F.lit("c-"), F.col("id")).alias("command_id"),
            F.lit(None).cast("string").alias("previous_id"),
        )
        .repartition(8)
    )
    maps = []
    for _ in range(2):
        path = _tf.mkdtemp(prefix="fstore_det_")
        try:
            s = EventStore(spark, path)
            s.register_decider_event("d", "e", "x")
            s.append_batch(batch)
            maps.append(
                {
                    r["event_id"]: r["offset"]
                    for r in s.events().select("event_id", "offset").collect()
                }
            )
        finally:
            _sh.rmtree(path, ignore_errors=True)
    assert maps[0] == maps[1], "hash order not deterministic across runs"
    # and it IS xxhash64(event_id) order
    expected = [
        r["event_id"]
        for r in batch.select("event_id")
        .orderBy(F.xxhash64("event_id"), "event_id")
        .collect()
    ]
    got = sorted(maps[0], key=maps[0].get)
    assert got == expected


def test_empty_log_fast_path_validation_parity(store):
    """Optimization pin: on a FRESH store the validator skips the four
    log probes (manifest.max_offset == 0 proves they match nothing), so
    every rule that can fire inside a first batch must still fire — and
    after one commit the probe path must catch log-vs-batch violations
    exactly as before."""
    store.register_decider_event("d", "e", "x")

    # C1 intra-batch duplicate (two fresh streams, so no T-rule preempts),
    # caught on the empty log (fast path)
    dup = uid()
    with pytest.raises(DuplicateEventIdError):
        store.append_batch(
            [
                {"event": "e", "event_id": dup, "decider": "d", "decider_id": "s1"},
                {"event": "e", "event_id": dup, "decider": "d", "decider_id": "s2"},
            ]
        )

    # T3 dangling previous_id: nothing in the (empty) log can satisfy it
    with pytest.raises(PreviousIdError):
        store.append_batch(
            [
                {
                    "event": "e",
                    "event_id": uid(),
                    "decider": "d",
                    "decider_id": "s1",
                    "previous_id": uid(),
                }
            ]
        )

    # T2 second-in-batch with null previous_id (window rules, no log probe)
    with pytest.raises(FirstEventError):
        store.append_batch(
            [
                {"event": "e", "event_id": uid(), "decider": "d", "decider_id": "s1"},
                {"event": "e", "event_id": uid(), "decider": "d", "decider_id": "s1"},
            ]
        )

    # C3 unregistered event type, fast path
    with pytest.raises(UnregisteredEventError):
        store.append_batch(
            [{"event": "nope", "event_id": uid(), "decider": "d", "decider_id": "s1"}]
        )

    # happy first commit through the fast path…
    e1 = uid()
    out = store.append_batch(
        [{"event": "e", "event_id": e1, "decider": "d", "decider_id": "s1"}]
    ).collect()
    assert [r["offset"] for r in out] == [1]

    # …and the non-empty path (log probes) still catches cross-batch C1/C2
    with pytest.raises(DuplicateEventIdError):
        store.append_batch(
            [{"event": "e", "event_id": e1, "decider": "d", "decider_id": "s2"}]
        )
    e2, e3 = uid(), uid()
    store.append_batch(
        [
            {
                "event": "e",
                "event_id": e2,
                "decider": "d",
                "decider_id": "s1",
                "previous_id": e1,
            }
        ]
    )
    with pytest.raises(OptimisticLockError):
        store.append_batch(
            [
                {
                    "event": "e",
                    "event_id": e3,
                    "decider": "d",
                    "decider_id": "s1",
                    "previous_id": e1,
                }
            ]
        )


class TestHandleMemo:
    """events() and the registry accessors return a LAZY handle memoised
    per table version: (published commit, log generation) for the log,
    the ``_LATEST`` snapshot version for a registry table.  The log's
    relation (its file listing) is read once per generation and re-listed
    in place on each commit.  The contract: no change in between = the
    same handle; a commit, compaction or registration, own or a
    sibling's, = a fresh handle that sees it; plans built earlier in the
    generation see every later commit; nothing is persisted in Spark's
    cache."""

    def test_unchanged_reads_share_one_handle(self, store):
        store.register_decider_event("d", "e", "x")
        store.append_event("e", uid(), "d", "p1")
        for read in (store.events, store.deciders, store.views, store.payload_schemas):
            assert read() is read()

    def test_handles_not_cached(self, store):
        from fstore_sql_spark.plans.inspect import formatted_plan

        store.register_decider_event("d", "e", "x")
        store.append_event("e", uid(), "d", "p1")
        assert len(store.get_events("p1", "d").collect()) == 1
        for df in (store.events(), store.deciders()):
            plan = formatted_plan(df)
            assert "InMemoryRelation" not in plan
            assert "InMemoryTableScan" not in plan

    @pytest.mark.parametrize(
        "change", ["own_append", "sibling_append", "compact", "sibling_register"]
    )
    def test_version_change_replaces_handle(self, store, spark, monkeypatch, change):
        store.register_decider_event("d", "e", "x")
        first = uid()
        store.append_event("e", first, "d", "p1")
        sibling = type(store)(spark, store.storage.root)
        events, deciders = store.events(), store.deciders()
        assert events.count() == 1
        read_log = store.storage.read_log
        reads = []
        monkeypatch.setattr(
            store.storage, "read_log", lambda *a: reads.append(a) or read_log(*a)
        )
        if change == "own_append":
            store.append_event("e", uid(), "d", "p1", previous_id=first)
        elif change == "sibling_append":
            sibling.append_event("e", uid(), "d", "p1", previous_id=first)
        elif change == "compact":
            store.compact()
        else:
            sibling.register_decider_event("d", "e2", "registered elsewhere")
        if change == "sibling_register":
            assert store.events() is events
            assert store.deciders() is not deciders
            # C3 reads the fresh registry: the sibling's event type passes
            store.append_event("e2", uid(), "d", "p2")
            assert store.events().count() == 2
            return
        fresh = store.events()
        assert fresh is not events
        assert store.events() is fresh  # one rebuild per version, not two
        assert store.deciders() is deciders
        # a commit re-lists the generation's relation in place; only a
        # compaction (new generation) reads the log afresh
        assert len(reads) == (1 if change == "compact" else 0)
        n = 1 if change == "compact" else 2
        assert fresh.count() == n
        assert len(store.get_events("p1", "d").collect()) == n

    def test_held_plan_reads_every_commit(self, store, spark):
        # a plan built before several commits, own and a sibling's, reads
        # all of them at its first action; events() itself never freezes
        # at the listing of its first action
        store.register_decider_event("d", "e", "x")
        sibling = type(store)(spark, store.storage.root)
        prev = uid()
        store.append_event("e", prev, "d", "p1")
        held = store.events().filter("decider_id = 'p1'")
        assert len(store.events().collect()) == 1
        for n, writer in enumerate((store, sibling, store), start=2):
            nxt = uid()
            writer.append_event("e", nxt, "d", "p1", previous_id=prev)
            prev = nxt
            assert len(store.events().collect()) == n
        assert [r["offset"] for r in held.orderBy("offset").collect()] == [1, 2, 3, 4]

    def test_full_cycle_leaves_no_persisted_rdd(self, store, spark):
        rdds = spark.sparkContext._jsc.getPersistentRDDs
        before = rdds().size()
        store.register_decider_event("d", "e", "x")
        e1 = uid()
        store.append_event("e", e1, "d", "p1")
        store.append_event("e", uid(), "d", "p1", previous_id=e1)
        assert len(store.get_events("p1", "d").collect()) == 2
        store.register_view("v", start_at="2020-01-01 00:00:00")
        got = store.stream_events("v", limit=1).collect()
        assert [r["offset"] for r in got] == [1]
        store.ack_event("v", "p1", 1)
        deleted = store.unregister_view("v").collect()
        assert [r["view"] for r in deleted] == ["v"]
        assert store.views().count() == 0
        assert rdds().size() == before
