"""Model-based test of the store API (hypothesis ``RuleBasedStateMachine``).

A producer ``EventStore`` and a consumer ``EventStore`` share one path,
as two services would.  The producer appends: new streams and chained
tail appends on the index path; finalizing events; set-path appends (a
DataFrame above ``INDEX_PATH_MAX_ROWS``, or a second decider's stream on
a ``decider_id`` another decider uses, which the index cannot decide);
and rejected appends (stale and forked ``previous_id``, on a finalized
stream, an unregistered event).  The consumer runs ``stream_events``,
``ack_events``, ``nack_event``, ``schedule_nack_event`` and
``register_view`` mid-run; either store replays streams.  The clock
steps past the lease by monkeypatching ``fstore_sql_spark.store._utcnow``.

The model is the reference's contract (schema.sql:336-468): per-stream
event ids, offsets and commit ids, a global offset and commit counter,
each partition's ``last_offset`` and its lease expiry.  Checked on every
call:

- every successful append takes the path the model predicts, and every
  rejected one raises the reference's error text (``errors.py``) and
  commits nothing;
- ``get_events`` (also ``as_of`` a past commit) returns the stream's
  events in offset order, and ``get_last_event`` the last event of the
  ``decider_id``, whichever decider appended it;
- every delivered row is the next unread event of its partition;
- a call returns at most one row per partition, and exactly as many
  rows as the model has free partitions with unread events (up to
  ``limit``);
- no leased partition is redelivered before its lease expires or it is
  nacked;
- a final drain delivers every committed event, and a view registered
  mid-run delivers exactly the events after its ``start_at``.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from datetime import datetime, timedelta

import pandas as pd
import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    precondition,
    rule,
    run_state_machine_as_test,
)

import fstore_sql_spark.store as store_mod
from fstore_sql_spark import EventStore, errors

VIEW = "v"
LATE_VIEW = "w"  # registered mid-run; streamed only by the final drain
LEASE_S = 3600  # real time never reaches it within a run; clock steps do
STEP_S = LEASE_S + 1
LONG_NACK_MS = 1_800_000  # a delayed retry that only a clock step releases
PAST = "2000-01-01T00:00:00"


class DeliveryMachine(RuleBasedStateMachine):
    spark = None  # the session fixture; set on a subclass by _run

    def __init__(self):
        super().__init__()
        self.path = tempfile.mkdtemp(prefix="fstore_delivery_")
        self.producer = EventStore(self.spark, self.path)
        self.producer.register_decider_event("d", "e", "delivery model")
        self.producer.register_decider_event("d2", "e", "delivery model")
        self.consumer = EventStore(self.spark, self.path)
        self.consumer.register_view(VIEW, start_at=PAST)
        self.skew = timedelta(0)  # virtual clock = wall clock + skew
        self.real_utcnow = store_mod._utcnow
        store_mod._utcnow = lambda: self.real_utcnow() + self.skew
        self.n = 0  # event ids
        self.max_offset = 0
        self.commit_id = 0
        # (decider_id, decider) -> [(event_id, offset, commit_id)]
        self.streams: dict[tuple[str, str], list[tuple[str, int, int]]] = {}
        self.finalized: set[tuple[str, str]] = set()
        self.offsets: dict[str, list[int]] = {}  # partition -> offsets
        self.last_decider: dict[str, str] = {}  # partition -> its last event's decider
        self.last_offset: dict[str, int] = {}
        # partition -> virtual time its lease runs until; absent = free
        self.lease: dict[str, datetime] = {}
        self.delivered: dict[str, list[int]] = {}
        self.unacked: dict[str, int] = {}  # partition -> delivered offset
        # LATE_VIEW's last_offset per partition at its registration
        self.late_start: dict[str, int] | None = None

    # ---- model helpers --------------------------------------------- #

    def now(self) -> datetime:
        return store_mod._utcnow()

    def leased(self, d: str) -> bool:
        until = self.lease.get(d)
        return until is not None and until >= self.now()

    def next_unread(self, d: str) -> int | None:
        for off in self.offsets[d]:
            if off > self.last_offset[d]:
                return off
        return None

    def claimable(self) -> set[str]:
        return {
            d
            for d in self.offsets
            if self.next_unread(d) is not None and not self.leased(d)
        }

    def tail(self, key) -> str | None:
        events = self.streams.get(key)
        return events[-1][0] if events else None

    def open_streams(self, decider="d", min_len=1) -> list:
        return sorted(
            k for k, evs in self.streams.items()
            if k[1] == decider and k not in self.finalized and len(evs) >= min_len
        )

    def chain(self, key, length: int, prev=None, final=False) -> list[dict]:
        """``length`` chained rows on stream ``key`` after ``prev``; the
        last one ``final`` if asked."""
        rows = []
        for i in range(length):
            self.n += 1
            eid = f"e{self.n:05d}"
            rows.append({
                "event": "e", "event_id": eid, "decider": key[1], "decider_id": key[0],
                "data": "{}", "command_id": f"c-{eid}", "previous_id": prev,
                "final": final and i == length - 1,
            })
            prev = eid
        return rows

    def as_frame(self, rows):
        """``rows`` as a DataFrame with ``seq`` carrying their order."""
        return self.spark.createDataFrame(
            pd.DataFrame([{**r, "seq": i} for i, r in enumerate(rows)]),
            "event string, event_id string, decider string, decider_id string, "
            "data string, command_id string, previous_id string, final boolean, seq long",
        )

    def append(self, rows: list[dict], as_frame=False) -> None:
        """One successful ``append_batch`` of ``rows`` (in offset order).
        The index decides it unless a row lands on a partition whose last
        event another decider appended; ``as_frame`` sends a DataFrame
        larger than the producer's ``INDEX_PATH_MAX_ROWS`` (instance
        shadowed for the call), which takes the set path."""
        shared = any(
            self.last_decider.get(r["decider_id"], r["decider"]) != r["decider"] for r in rows
        )
        path = "set" if as_frame or shared else "index"
        before = dict(self.producer.append_paths)
        if as_frame:
            self.producer.INDEX_PATH_MAX_ROWS = len(rows) - 1
            try:
                self.producer.append_batch(self.as_frame(rows))
            finally:
                del self.producer.INDEX_PATH_MAX_ROWS
        else:
            self.producer.append_batch(rows)
        assert self.producer.append_paths[path] == before[path] + 1, (
            f"append left the {path} path",
            self.producer.append_paths,
        )
        self.commit_id += 1
        for r in rows:  # list order is offset order
            self.max_offset += 1
            d, key = r["decider_id"], (r["decider_id"], r["decider"])
            self.streams.setdefault(key, []).append((r["event_id"], self.max_offset, self.commit_id))
            self.offsets.setdefault(d, []).append(self.max_offset)
            self.last_offset.setdefault(d, 0)
            self.last_decider[d] = r["decider"]
            if r["final"]:
                self.finalized.add(key)

    def rejected(self, rows: list[dict], expected: errors.FStoreError) -> None:
        """An ``append_batch`` that must raise ``expected`` (same class and
        text) and commit nothing."""
        before = self.producer.storage.read_published("events")
        with pytest.raises(type(expected)) as e:
            self.producer.append_batch(rows)
        assert str(e.value) == str(expected)
        assert self.producer.storage.read_published("events") == before == self.commit_id

    def stream(self, limit: int) -> list:
        free = self.claimable()
        t0 = self.now()
        rows = self.consumer.stream_events(VIEW, limit=limit, seconds=LEASE_S).collect()
        parts = [r["decider_id"] for r in rows]
        assert len(set(parts)) == len(parts), f"two rows of one partition: {parts}"
        assert len(rows) == min(limit, len(free)), (
            f"{len(rows)} rows for limit {limit} with {len(free)} claimable",
            sorted(free),
            parts,
        )
        for r in rows:
            d = r["decider_id"]
            assert d in free, f"{d} redelivered while leased until {self.lease.get(d)}"
            assert r["offset"] == self.next_unread(d), (
                f"{d}: delivered offset {r['offset']}, next unread is "
                f"{self.next_unread(d)} after last_offset {self.last_offset[d]}"
            )
            self.lease[d] = t0 + timedelta(seconds=LEASE_S)
            self.delivered.setdefault(d, []).append(r["offset"])
            self.unacked[d] = r["offset"]
        return rows

    def ack(self, acks: list[tuple[str, int]]) -> None:
        self.consumer.ack_events(VIEW, acks, returning=False)
        for d, off in acks:
            self.last_offset[d] = off
            self.lease.pop(d, None)
            self.unacked.pop(d, None)

    # ---- append rules ----------------------------------------------- #

    def new_streams(self, lengths) -> list[dict]:
        rows = []
        for i, n in enumerate(lengths):
            rows += self.chain((f"p{len(self.offsets) + i:03d}", "d"), n)
        return rows

    @initialize(lengths=st.lists(st.integers(1, 3), min_size=1, max_size=3))
    def first_streams(self, lengths):
        self.append(self.new_streams(lengths))

    @rule(lengths=st.lists(st.integers(1, 3), min_size=1, max_size=2))
    def append_new_streams(self, lengths):
        self.append(self.new_streams(lengths))

    @precondition(lambda self: bool(self.open_streams()))
    @rule(data=st.data())
    def append_on_tails(self, data):
        keys = data.draw(st.lists(st.sampled_from(self.open_streams()), min_size=1, max_size=3, unique=True))
        rows = []
        for key in keys:
            rows += self.chain(key, data.draw(st.integers(1, 2)), self.tail(key))
        self.append(rows)

    @precondition(lambda self: bool(self.open_streams()))
    @rule(data=st.data())
    def finalize_stream(self, data):
        key = data.draw(st.sampled_from(self.open_streams()))
        self.append(self.chain(key, 1, self.tail(key), final=True))

    @rule(data=st.data(), shared=st.booleans())
    def append_set_path(self, data, shared):
        """A batch the index does not take: a DataFrame above its row
        bound (new streams and tails), or a second decider's stream on a
        ``decider_id`` whose last event another decider appended."""
        parts = sorted(
            d for d, dec in self.last_decider.items()
            if dec == "d" and (d, "d2") not in self.finalized
        )
        if shared and parts:
            key = (data.draw(st.sampled_from(parts)), "d2")
            self.append(self.chain(key, 1, self.tail(key)))
            return
        rows = self.new_streams([data.draw(st.integers(1, 2))])
        for key in data.draw(st.lists(st.sampled_from(self.open_streams() or [None]), max_size=2, unique=True)):
            if key is not None:
                rows += self.chain(key, 1, self.tail(key))
        self.append(rows, as_frame=True)

    @rule(data=st.data())
    def append_rejected(self, data):
        """Appends the reference rejects, each with its error text: an
        unregistered event (C3), and where the model has the streams for
        them a stale and a forked ``previous_id`` (C2, the optimistic
        lock) and an append on a finalized stream (T1)."""
        key = data.draw(st.sampled_from(self.open_streams() or [(f"p{len(self.offsets):03d}", "d")]))
        rows = [{**r, "event": "bogus"} for r in self.chain(key, 1, self.tail(key))]
        self.rejected(rows, errors.UnregisteredEventError(key[1], "bogus", 1))
        if self.open_streams(min_len=2):
            key = data.draw(st.sampled_from(self.open_streams(min_len=2)))
            prev = data.draw(st.sampled_from([e for e, _, _ in self.streams[key][:-1]]))
            self.rejected(self.chain(key, 1, prev), errors.OptimisticLockError(prev))
        if self.open_streams():
            key = data.draw(st.sampled_from(self.open_streams()))
            rows = self.chain(key, 1, self.tail(key)) + self.chain(key, 1, self.tail(key))
            self.rejected(rows, errors.OptimisticLockError(self.tail(key)))
        if self.finalized:
            key = data.draw(st.sampled_from(sorted(self.finalized)))
            self.rejected(self.chain(key, 1, self.tail(key)), errors.StreamFinalizedError())

    # ---- read rules --------------------------------------------------- #

    @rule(data=st.data(), consumer=st.booleans())
    def replay(self, data, consumer):
        """``get_events`` (now or ``as_of`` a past commit) and
        ``get_last_event`` from either store, against the model."""
        store = self.consumer if consumer else self.producer
        key = data.draw(st.sampled_from(sorted(self.streams)))
        as_of = data.draw(st.none() | st.integers(0, self.commit_id))
        got = [(r["event_id"], r["offset"]) for r in store.get_events(*key, as_of=as_of).collect()]
        want = [(e, off) for e, off, c in self.streams[key] if as_of is None or c <= as_of]
        assert got == want, (key, as_of)
        last = [(r["event_id"], r["offset"]) for r in store.get_last_event(*key).collect()]
        d = key[0]
        assert last == [max((evs[-1] for k, evs in self.streams.items() if k[0] == d), key=lambda e: e[1])[:2]]

    # ---- delivery rules ----------------------------------------------- #

    @rule(limit=st.integers(1, 4))
    def stream_events(self, limit):
        self.stream(limit)

    @precondition(lambda self: bool(self.unacked))
    @rule(data=st.data())
    def ack_events(self, data):
        """Ack some delivered, not yet acked events — leased, expired or
        nacked since, as a slow consumer would."""
        picked = data.draw(
            st.lists(st.sampled_from(sorted(self.unacked)), min_size=1, unique=True)
        )
        self.ack([(d, self.unacked[d]) for d in picked])

    def pick(self, data) -> str:
        """A partition to nack: one with a delivery out when there is
        one (the consumer's usual case), else any."""
        return data.draw(st.sampled_from(sorted(self.unacked) or sorted(self.offsets)))

    @rule(data=st.data())
    def nack_event(self, data):
        d = self.pick(data)
        self.consumer.nack_event(VIEW, d).collect()
        self.lease.pop(d, None)

    @rule(data=st.data(), long=st.booleans())
    def schedule_nack_event(self, data, long):
        d = self.pick(data)
        ms = LONG_NACK_MS if long else 0
        t0 = self.now()
        self.consumer.schedule_nack_event(VIEW, d, ms).collect()
        if long:
            self.lease[d] = t0 + timedelta(milliseconds=ms)
        else:
            self.lease.pop(d, None)

    @rule(past=st.booleans())
    def register_late_view(self, past):
        """``register_view`` mid-run (again: an upsert that re-runs the
        backfill).  From the past every event is unread; from NOW every
        committed one counts as consumed."""
        self.consumer.register_view(LATE_VIEW, start_at=PAST if past else None)
        self.late_start = {d: offs[0] - 1 if past else offs[-1] for d, offs in self.offsets.items()}

    @rule()
    def clock_step_past_lease(self):
        self.skew += timedelta(seconds=STEP_S)

    # ---- the final drain ------------------------------------------ #

    def teardown(self):
        try:
            # hypothesis calls teardown from a ``finally``: drain only
            # after a clean run, so a failed rule is reported as itself
            if self.offsets and sys.exc_info()[0] is None:
                self.drain()
        finally:
            store_mod._utcnow = self.real_utcnow
            shutil.rmtree(self.path, ignore_errors=True)

    def drain(self):
        self.skew += timedelta(seconds=STEP_S)  # every lease has expired
        while True:
            rows = self.stream(100)
            if not rows:
                break
            self.ack([(r["decider_id"], r["offset"]) for r in rows])
        for d, offs in self.offsets.items():
            got = self.delivered.get(d, [])
            # redeliveries repeat an offset; never skip or reorder one
            assert sorted(set(got)) == offs, (d, got, offs)
            assert got == sorted(got), (d, got)
        assert self.max_offset == self.consumer.stats()["max_offset"]
        if self.late_start is None:
            return
        late: dict[str, list[int]] = {}
        while rows := self.consumer.stream_events(LATE_VIEW, limit=100).collect():
            self.consumer.ack_events(LATE_VIEW, [(r["decider_id"], r["offset"]) for r in rows], returning=False)
            for r in rows:
                late.setdefault(r["decider_id"], []).append(r["offset"])
        for d, offs in self.offsets.items():
            want = [o for o in offs if o > self.late_start.get(d, 0)]
            assert late.get(d, []) == want, (d, late.get(d), want)


def _run(spark, **profile):
    run_state_machine_as_test(
        type("DeliveryRun", (DeliveryMachine,), {"spark": spark}),
        settings=settings(
            deadline=None,
            suppress_health_check=list(HealthCheck),
            **profile,
        ),
    )


def test_delivery_matches_model(spark):
    """Tier-1 profile: five short runs, about a minute in all."""
    _run(spark, max_examples=5, stateful_step_count=15)


@pytest.mark.slow
def test_delivery_matches_model_long(spark):
    """Long profile (several minutes): longer runs reach sequences the
    short one rarely draws, e.g. a window cached before a commit that
    extends its partition."""
    _run(spark, max_examples=15, stateful_step_count=30)
