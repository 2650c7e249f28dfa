"""Model-based test of the delivery API (hypothesis ``RuleBasedStateMachine``).

A producer ``EventStore`` and a consumer ``EventStore`` share one path,
as two services would.  The producer appends on the index path (new
streams and chained tail appends); the consumer runs ``stream_events``,
``ack_events``, ``nack_event`` and ``schedule_nack_event``; the clock
steps past the lease by monkeypatching ``fstore_sql_spark.store._utcnow``.

The model is the reference's delivery contract (schema.sql:399-468):
per-partition offset lists, each partition's ``last_offset`` and its
lease expiry.  Checked on every call:

- every delivered row is the next unread event of its partition;
- a call returns at most one row per partition, and exactly as many
  rows as the model has free partitions with unread events (up to
  ``limit``);
- no leased partition is redelivered before its lease expires or it is
  nacked;
- a final drain delivers every committed event.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from datetime import datetime, timedelta

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
from fstore_sql_spark import EventStore

VIEW = "v"
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
        self.consumer = EventStore(self.spark, self.path)
        self.consumer.register_view(VIEW, start_at=PAST)
        self.skew = timedelta(0)  # virtual clock = wall clock + skew
        self.real_utcnow = store_mod._utcnow
        store_mod._utcnow = lambda: self.real_utcnow() + self.skew
        self.n = 0  # event ids
        self.max_offset = 0
        self.offsets: dict[str, list[int]] = {}  # partition -> offsets
        self.tail_id: dict[str, str] = {}
        self.last_offset: dict[str, int] = {}
        # partition -> virtual time its lease runs until; absent = free
        self.lease: dict[str, datetime] = {}
        self.delivered: dict[str, list[int]] = {}
        self.unacked: dict[str, int] = {}  # partition -> delivered offset

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

    def append(self, spec: list[tuple[str | None, int]]) -> None:
        """One ``append_batch``: for each (partition or None for a new
        stream, length), a chain of that many events on its tail."""
        rows, added = [], []
        for d, length in spec:
            if d is None:
                d = f"p{len(self.offsets) + len(added):03d}"
                prev = None
            else:
                prev = self.tail_id[d]
            for _ in range(length):
                self.n += 1
                eid = f"e{self.n:05d}"
                rows.append(
                    {
                        "event": "e",
                        "event_id": eid,
                        "decider": "d",
                        "decider_id": d,
                        "previous_id": prev,
                    }
                )
                prev = eid
            added.append((d, prev))
        before = dict(self.producer.append_paths)
        self.producer.append_batch(rows)
        assert self.producer.append_paths["index"] == before["index"] + 1, (
            "append left the index path",
            self.producer.append_paths,
        )
        for d, tail in added:
            self.offsets.setdefault(d, [])
            self.last_offset.setdefault(d, 0)
            self.tail_id[d] = tail
        for r in rows:  # list order is offset order
            self.max_offset += 1
            self.offsets[r["decider_id"]].append(self.max_offset)

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

    # ---- rules -------------------------------------------------------- #

    @initialize(lengths=st.lists(st.integers(1, 3), min_size=1, max_size=3))
    def first_streams(self, lengths):
        self.append([(None, n) for n in lengths])

    @rule(lengths=st.lists(st.integers(1, 3), min_size=1, max_size=2))
    def append_new_streams(self, lengths):
        self.append([(None, n) for n in lengths])

    @rule(data=st.data())
    def append_on_tails(self, data):
        parts = data.draw(
            st.lists(st.sampled_from(sorted(self.offsets)), min_size=1, max_size=3, unique=True)
        )
        lengths = data.draw(st.lists(st.integers(1, 2), min_size=len(parts), max_size=len(parts)))
        self.append(list(zip(parts, lengths)))

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
