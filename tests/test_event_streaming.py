"""Event-streaming tests, mirroring
/root/reference/tests/unit/event-streaming/*.sql and
 tests/integration/*. Pull-delivery semantics (SURVEY.md §2.5):
one event per partition per call, distinct partitions, at-least-once,
ack commits the consumer offset."""

import uuid
from datetime import datetime, timedelta, timezone

import pyarrow.compute as pc

from test_index_path import _jobs


def uid() -> str:
    return str(uuid.uuid4())


def now_utc() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def seed(store, n_partitions=3, events_per=2):
    store.register_decider_event("d", "e", "x")
    rows = []
    prev: dict[str, str] = {}
    for i in range(n_partitions * events_per):
        part = f"p{i % n_partitions}"
        eid = uid()
        rows.append(
            {
                "event": "e",
                "event_id": eid,
                "decider": "d",
                "decider_id": part,
                "previous_id": prev.get(part),
            }
        )
        prev[part] = eid
    store.append_batch(rows)


def test_register_view(store):
    out = store.register_view("v1", lock_timeout_s=60).collect()
    assert out[0]["view"] == "v1"
    assert out[0]["lock_timeout_s"] == 60
    # upsert on duplicate (test_register_view.sql:74-110)
    out2 = store.register_view("v1", lock_timeout_s=120).collect()
    assert out2[0]["lock_timeout_s"] == 120
    assert store.views().count() == 1


def test_backfill_before_events(store):
    """View registered before events exist: T6 gives new partitions
    last_offset=0 → everything is delivered."""
    store.register_view("v1")
    seed(store, n_partitions=2, events_per=1)
    locks = store.locks().orderBy("decider_id").collect()
    assert [r["last_offset"] for r in locks] == [0, 0]
    assert [r["offset"] for r in locks] == [1, 2]


def test_backfill_after_events_start_past(store):
    """View registered after events with start_at in the past: T7 sets
    last_offset = first offset after start_at − 1 ⇒ full replay."""
    seed(store, n_partitions=2, events_per=2)
    store.register_view("v1", start_at=now_utc() - timedelta(hours=1))
    locks = {r["decider_id"]: r for r in store.locks().collect()}
    # p0 events at offsets 1,3 — last_offset = 0; p1 at 2,4 — last_offset = 1
    assert locks["p0"]["last_offset"] == 0
    assert locks["p1"]["last_offset"] == 1


def test_backfill_start_future_marks_consumed(store):
    """start_at after all events ⇒ last_offset = partition max ⇒ nothing
    delivered (/root/reference/schema.sql:275-287 COALESCE else-branch)."""
    seed(store, n_partitions=2, events_per=2)
    store.register_view("v1", start_at=now_utc() + timedelta(hours=1))
    assert store.stream_events("v1", limit=10).count() == 0


def test_stream_basic_and_ordering(store):
    seed(store, n_partitions=3, events_per=2)
    store.register_view("v1", start_at=now_utc() - timedelta(hours=1))
    # one event per partition per call, distinct partitions
    got = store.stream_events("v1", limit=10).collect()
    assert len(got) == 3
    assert len({r["decider_id"] for r in got}) == 3
    # each is the FIRST unread of its partition (offsets 1,2,3 for p0,p1,p2)
    assert sorted(r["offset"] for r in got) == [1, 2, 3]


def test_stream_limit_and_lease(store):
    seed(store, n_partitions=3, events_per=1)
    store.register_view("v1", start_at=now_utc() - timedelta(hours=1))
    first = store.stream_events("v1", limit=1).collect()
    assert len(first) == 1
    # claimed partition is leased: a second call must pick a different one
    second = store.stream_events("v1", limit=1).collect()
    assert len(second) == 1
    assert second[0]["decider_id"] != first[0]["decider_id"]


def test_empty_view_streams_nothing(store):
    # test_stream_events.sql:81-100
    seed(store)
    store.register_view("v_empty", start_at=now_utc() + timedelta(hours=1))
    assert store.stream_events("v_empty", limit=5).count() == 0


def test_ack_advances_and_releases(store):
    seed(store, n_partitions=1, events_per=3)
    store.register_view("v1", start_at=now_utc() - timedelta(hours=1))
    e1 = store.stream_events("v1", limit=1).collect()[0]
    assert e1["offset"] == 1
    # unacked: partition leased, nothing redelivered
    assert store.stream_events("v1", limit=1).count() == 0
    store.ack_event("v1", e1["decider_id"], e1["offset"])
    e2 = store.stream_events("v1", limit=1).collect()[0]
    assert e2["offset"] == 2
    store.ack_event("v1", e2["decider_id"], e2["offset"])
    e3 = store.stream_events("v1", limit=1).collect()[0]
    assert e3["offset"] == 3
    store.ack_event("v1", e3["decider_id"], e3["offset"])
    assert store.stream_events("v1", limit=1).count() == 0


def test_nack_redelivers(store):
    # test_acknowledgment_functions.sql:14-119
    seed(store, n_partitions=1, events_per=1)
    store.register_view("v1", start_at=now_utc() - timedelta(hours=1))
    e1 = store.stream_events("v1", limit=1).collect()[0]
    assert store.stream_events("v1", limit=1).count() == 0  # leased
    store.nack_event("v1", e1["decider_id"])
    redelivered = store.stream_events("v1", limit=1).collect()[0]
    assert redelivered["offset"] == e1["offset"]  # at-least-once


def test_schedule_nack_delays(store):
    seed(store, n_partitions=1, events_per=1)
    store.register_view("v1", start_at=now_utc() - timedelta(hours=1))
    e1 = store.stream_events("v1", limit=1).collect()[0]
    store.schedule_nack_event("v1", e1["decider_id"], milliseconds=3_600_000)
    # still leased for another hour
    assert store.stream_events("v1", limit=1).count() == 0


def test_multiple_views_independent(store):
    # test_multi_decider_scenarios / test_lock_contention shape
    seed(store, n_partitions=2, events_per=1)
    past = now_utc() - timedelta(hours=1)
    store.register_view("v1", start_at=past)
    store.register_view("v2", start_at=past)
    a = store.stream_events("v1", limit=10).collect()
    b = store.stream_events("v2", limit=10).collect()
    assert len(a) == 2 and len(b) == 2  # leases are per-view


def test_new_partition_after_registration_delivered(store):
    """T6 insert branch: partitions born after registration get
    last_offset=0 even with a future start_at
    (/root/reference/schema.sql:244-252)."""
    store.register_decider_event("d", "e", "x")
    store.register_view("v1", start_at=now_utc() + timedelta(hours=1))
    store.append_event("e", uid(), "d", "newpart")
    got = store.stream_events("v1", limit=5).collect()
    assert len(got) == 1 and got[0]["decider_id"] == "newpart"


def test_unregister_view_cascades_locks(store):
    """T10 + FK cascade (/root/reference/schema.sql:199): deleting a view
    removes its locks; other views' locks survive."""
    from datetime import datetime, timedelta, timezone

    import uuid as _uuid

    past = datetime.now(timezone.utc).replace(tzinfo=None) - timedelta(hours=1)
    store.register_decider_event("d", "e", "x")
    store.append_event("e", str(_uuid.uuid4()), "d", "p1")
    store.register_view("gone", start_at=past)
    store.register_view("stays", start_at=past)
    assert store.locks().filter("view = 'gone'").count() == 1

    deleted = store.unregister_view("gone")
    assert [r["view"] for r in deleted.collect()] == ["gone"]
    assert store.views().filter("view = 'gone'").count() == 0
    assert store.locks().filter("view = 'gone'").count() == 0
    assert store.locks().filter("view = 'stays'").count() == 1
    # idempotent: deleting again returns empty, changes nothing
    assert store.unregister_view("gone").count() == 0


def test_ack_events_batch_commits_multiple_partitions(store):
    seed(store, n_partitions=3, events_per=2)
    store.register_view("vb", start_at=now_utc() - timedelta(days=1))
    batch = store.stream_events("vb", limit=3).collect()
    assert len(batch) == 3
    store.ack_events("vb", [(r["decider_id"], r["offset"]) for r in batch])
    # every partition's consumer offset advanced; next call delivers the
    # second event of each partition, not a redelivery.
    again = store.stream_events("vb", limit=3).collect()
    assert {(r["decider_id"], r["offset"]) for r in again}.isdisjoint(
        {(r["decider_id"], r["offset"]) for r in batch}
    )
    assert len(again) == 3
    store.ack_events("vb", [(r["decider_id"], r["offset"]) for r in again])
    assert store.stream_events("vb", limit=3).collect() == []


def test_ack_events_empty_is_noop(store):
    seed(store, n_partitions=1, events_per=1)
    store.register_view("ve", start_at=now_utc() - timedelta(days=1))
    assert store.ack_events("ve", []).collect() == []
    assert len(store.stream_events("ve", limit=1).collect()) == 1


def test_three_views_full_drain_at_least_once(store):
    """The reference's concurrent-consumer load shape
    (/root/reference/tests/performance/load-tests/
    test_concurrent_consumer_performance.sql:36-68): N events over
    several partitions, 3 registered views, each independently drained
    claim→deliver→ack.  Every view must see EVERY event exactly once
    (single consumer per view, acks commit), with per-partition offset
    order preserved within each view's delivery sequence."""
    seed(store, n_partitions=4, events_per=3)
    past = now_utc() - timedelta(hours=1)
    views = ["va", "vb", "vc"]
    for v in views:
        store.register_view(v, start_at=past)
    for v in views:
        seen: list[tuple[str, int]] = []
        while True:
            rows = store.stream_events(v, limit=10).collect()
            if not rows:
                break
            store.ack_events(v, [(r["decider_id"], r["offset"]) for r in rows])
            seen.extend((r["decider_id"], r["offset"]) for r in rows)
        assert len(seen) == 12, f"{v}: {len(seen)}"
        assert len(set(seen)) == 12  # no duplicate deliveries after ack
        per_part: dict[str, list[int]] = {}
        for part, off in seen:
            per_part.setdefault(part, []).append(off)
        for part, offs in per_part.items():
            assert offs == sorted(offs), (part, offs)


def test_prefetch_hit_rate_steady_state(store):
    """Read-ahead observability: draining a view whose
    windows fit one refill must serve almost every round from the cache
    — one refill job, first-round misses only.  A collapsed hit rate is
    the signature of the sf1 warm-order bug class, caught here instead
    of as silently slow delivery."""
    seed(store, n_partitions=4, events_per=5)
    store.register_view("v1", start_at=now_utc() - timedelta(hours=1))
    drained = 0
    while True:
        rows = store.stream_events("v1", limit=4).collect()
        if not rows:
            break
        store.ack_events("v1", [(r["decider_id"], r["offset"]) for r in rows])
        drained += len(rows)
    assert drained == 20
    pf = store.prefetch_counters
    assert pf["refills"] == 1, pf
    # 4 first-round misses, everything after from cache
    assert pf["hits"] / (pf["hits"] + pf["misses"]) >= 0.75, pf


def _drain_deep_backlog(spark, store):
    """Two partitions with a 20-event backlog each, drained two claims
    per poll: a claim re-picks the same few partitions every tick and
    consumes one event of each, so their windows exhaust together; the
    depth (PREFETCH_DEPTH = 64) covers each backlog in ONE span, so the
    whole drain pays exactly one refill.  Returns the Spark job count of
    each poll."""
    seed(store, n_partitions=2, events_per=20)
    store.register_view("v1", start_at=now_utc() - timedelta(hours=1))
    seen, jobs = [], []

    def poll():
        rows = store.stream_events("v1", limit=2).collect()
        store.ack_events("v1", [(r["decider_id"], r["offset"]) for r in rows])
        seen.extend(rows)
        return rows

    while True:
        n = len(seen)
        jobs.append(_jobs(spark, poll))
        if len(seen) == n:
            break
        assert len(seen) == n + 2
    assert len(seen) == 40
    assert store.prefetch_counters["refills"] == 1, store.prefetch_counters
    rows, _, spans = store._prefetch["v1"]
    assert len(rows) == 40
    for part in ("p0", "p1"):
        start, stop, _ = spans[part]
        assert set(rows["decider_id"].iloc[start:stop]) == {part}
        # the whole history in one span, and the span is complete
        assert stop - start == 20 < store.PREFETCH_DEPTH, (part, start, stop)
    return jobs


def test_prefetch_deep_windows_for_missed_partitions(spark, store):
    """Within the point-read budget the one refill is a driver-side
    read: no poll of the drain runs a Spark job."""
    assert set(_drain_deep_backlog(spark, store)) == {0}


def test_prefetch_deep_windows_over_point_read_budget(spark, store):
    """Over the point-read budget (instance-shadowed to 0) the refill is
    the Spark plan, and the window is what keeps a consumer far behind
    from paying Spark jobs on every poll: the first poll's refill runs
    them, the other 20 polls of the drain run none.  The refill's pairs
    are predicates of its plan, not a relation of their own, so that
    first poll runs at most 2 jobs (the windowed scan and its result)."""
    store.POINT_READ_MAX_ROWS = 0
    first, *rest = _drain_deep_backlog(spark, store)
    assert 0 < first <= 2 and set(rest) == {0}, (first, rest)


def test_drained_claim_is_released(store, monkeypatch):
    """A claim whose refilled span is complete and empty has nothing
    readable in the store's log view (the watermark can be ahead of
    it).  Its lease is released at once, so the next poll after a
    commit claims the partition again instead of waiting out the
    lease.  The refill's log read withholds p0's rows to stage that."""
    seed(store, n_partitions=2, events_per=2)  # p0: 1, 3; p1: 2, 4
    store.register_view("v1", start_at=now_utc() - timedelta(hours=1))
    read = store._read_files
    monkeypatch.setattr(
        store,
        "_read_files",
        lambda files, where, columns=None: read(files, where, columns).filter(
            pc.field("decider_id") != "p0"
        ),
    )
    rows = store.stream_events("v1", limit=2, seconds=300).collect()
    monkeypatch.undo()
    assert [(r["decider_id"], r["offset"]) for r in rows] == [("p1", 2)]
    window, _, spans = store._prefetch["v1"]
    start, stop, _ = spans["p0"]
    assert start == stop and "p0" not in set(window["decider_id"])
    lock = store.locks().filter("decider_id = 'p0'").collect()[0]
    assert lock["locked_until"] < now_utc(), lock
    # a commit clears the window; p1 is still leased, p0 is claimable
    store.append_event("e", uid(), "d", "p2")
    rows = store.stream_events("v1", limit=2).collect()
    assert sorted((r["decider_id"], r["offset"]) for r in rows) == [("p0", 1), ("p2", 5)]


def test_prefetch_two_views_stay_within_row_bound(store):
    """Two views drained alternately, each with more unread partitions
    than one refill covers: every refill replaces its view's windows and,
    past PREFETCH_PARTITIONS * PREFETCH_DEPTH cached rows, drops the
    other view's.  Delivery stays exactly-once in per-partition order,
    and the cache never holds more rows than the bound."""
    store.PREFETCH_PARTITIONS = 3  # instance shadows
    store.PREFETCH_DEPTH = 2
    bound = store.PREFETCH_PARTITIONS * store.PREFETCH_DEPTH
    seed(store, n_partitions=6, events_per=4)
    past = now_utc() - timedelta(hours=1)
    views = ("v1", "v2")
    for v in views:
        store.register_view(v, start_at=past)
    seen = {v: [] for v in views}
    live = list(views)
    dropped = False
    while live:
        for v in list(live):
            other = "v2" if v == "v1" else "v1"
            warm_other = other in store._prefetch
            rows = store.stream_events(v, limit=2).collect()
            cached = sum(len(w) for w, _, _ in store._prefetch.values())
            assert cached <= bound, (cached, bound)
            for w, _, spans in store._prefetch.values():
                lengths = [stop - start for start, stop, _ in spans.values()]
                assert sum(lengths) == len(w), (lengths, len(w))
                assert max(lengths) <= store.PREFETCH_DEPTH, lengths
            dropped |= warm_other and other not in store._prefetch
            if not rows:
                live.remove(v)
                continue
            assert len({r["decider_id"] for r in rows}) == len(rows)
            store.ack_events(v, [(r["decider_id"], r["offset"]) for r in rows])
            seen[v].extend((r["decider_id"], r["offset"]) for r in rows)
    assert dropped, "no refill ever dropped the other view's windows"
    for v in views:
        assert len(seen[v]) == 24 and len(set(seen[v])) == 24, (v, seen[v])
        per_part: dict[str, list[int]] = {}
        for part, off in seen[v]:
            per_part.setdefault(part, []).append(off)
        for part, offs in per_part.items():
            assert offs == sorted(offs) and len(offs) == 4, (v, part, offs)
