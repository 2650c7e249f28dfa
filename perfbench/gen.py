"""Seeded input generators for the benchmark workloads.

Everything here is pure Python + NumPy and never touches Spark: the
benchmark builds every input before the timed window and hands the
program only the generated rows.  Each generator draws from its own
``random.Random(f"{generator}:{seed}")`` stream, so the same seed gives
byte-identical inputs and two generators never share draws.
"""

from __future__ import annotations

import itertools
import json
import random
import uuid
from collections import Counter
from dataclasses import dataclass, field

DECIDER = "account"
# Two event types: each registration is a few Spark jobs of set-up time.
EVENTS = ("opened", "credited")

# Shares of the command mix: a "new" command opens a
# stream (the T6 lock-seeding path), a "stale" one replays a stream and
# then appends on its second-to-last event, which the optimistic lock
# must reject.
NEW_STREAM_SHARE = 0.05
STALE_LOCK_SHARE = 0.02
# Kinds of the first commands, whatever the seed.  They run in set-up, as
# the command path's warm-up (a replay and a 1-event append): a window
# holds too few commands for the shares above to show, and every run must
# exercise the new-stream path and the lock check.
HEAD_KINDS = ("new", "stale")
# Zipf exponent of the decider popularity draw.
ZIPF_S = 1.1
# Share of brand-new streams in each extension batch (bulk or producer).
BATCH_NEW_SHARE = 0.10


@dataclass
class Chains:
    """Stream tails as the generator assigns events: the inputs it emits
    chain ``previous_id`` onto these, so a batch generated after another
    continues the earlier batch's streams."""

    rng: random.Random
    prefix: str
    tails: dict[str, str] = field(default_factory=dict)
    next_stream: int = 0

    def uid(self) -> str:
        return str(uuid.UUID(int=self.rng.getrandbits(128), version=4))

    def new_stream(self) -> str:
        sid = f"{self.prefix}{self.next_stream:06d}"
        self.next_stream += 1
        return sid

    def payload(self, lo: int, hi: int, **fields) -> str:
        """JSON ``data`` with a pad whose length is drawn from [lo, hi]."""
        n = self.rng.randint(lo, hi)
        return json.dumps({**fields, "pad": self.rng.randbytes((n + 1) // 2).hex()[:n]})

    def event(self, stream: str, seq: int, **fields) -> dict:
        eid = self.uid()
        row = {
            "event": EVENTS[0] if stream not in self.tails else self.rng.choice(EVENTS[1:]),
            "event_id": eid,
            "event_version": 1,
            "decider": DECIDER,
            "decider_id": stream,
            "data": self.payload(32, 480, **fields),
            "command_id": eid,
            "previous_id": self.tails.get(stream),
            "final": False,
            "seq": seq,
        }
        self.tails[stream] = eid
        return row


def bootstrap_rows(chains: Chains, n_streams: int, per_stream: int) -> list[dict]:
    """``n_streams`` fresh streams of ``per_stream`` chained events, in
    stream-major order (the empty-log bulk load)."""
    rows = []
    for _ in range(n_streams):
        sid = chains.new_stream()
        for _ in range(per_stream):
            rows.append(chains.event(sid, len(rows)))
    return rows


def extension_rows(chains: Chains, n: int, **fields) -> list[dict]:
    """``n`` events that continue uniformly drawn existing streams, with
    ``BATCH_NEW_SHARE`` of them opening new streams; ``seq`` keeps the
    intra-batch chains in order."""
    existing = sorted(chains.tails)
    rows = []
    for _ in range(n):
        if chains.rng.random() < BATCH_NEW_SHARE or not existing:
            sid = chains.new_stream()
        else:
            sid = chains.rng.choice(existing)
        rows.append(chains.event(sid, len(rows), **fields))
    return rows


def zipf_cum_weights(n: int, s: float = ZIPF_S) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


@dataclass
class Command:
    kind: str  # "append" | "new" | "stale"
    decider_id: str
    event: str
    event_id: str
    data: str


@dataclass
class CommandLoopInputs:
    bootstrap: list[dict]
    extension: list[dict]
    commands: list[Command]


def command_loop_inputs(
    seed: int,
    n_streams: int = 300,
    per_stream: int = 20,
    n_extension: int = 3000,
    n_commands: int = 400,
) -> CommandLoopInputs:
    """The command handler's log and command mix: a bootstrap load, a
    bulk extension batch (continues chains, opens new streams) and a
    command list longer than any window consumes, opening with
    ``HEAD_KINDS``.  Commands pick an existing stream by a Zipf draw over
    a shuffled rank order."""
    chains = Chains(random.Random(f"command_loop:{seed}"), "acct-")
    bootstrap = bootstrap_rows(chains, n_streams, per_stream)
    extension = extension_rows(chains, n_extension)
    length = Counter(r["decider_id"] for r in bootstrap + extension)
    seeded = sorted(chains.tails)
    chains.rng.shuffle(seeded)
    cum = zipf_cum_weights(len(seeded))
    rng = chains.rng
    commands = []
    for i in range(n_commands):
        u = rng.random()
        if i < len(HEAD_KINDS):
            kind = HEAD_KINDS[i]
        elif u < NEW_STREAM_SHARE:
            kind = "new"
        else:
            kind = "stale" if u < NEW_STREAM_SHARE + STALE_LOCK_SHARE else "append"
        if kind == "new":
            sid, ev = chains.new_stream(), EVENTS[0]
        else:
            sid = rng.choices(seeded, cum_weights=cum)[0]
            while kind == "stale" and length[sid] < 2:  # needs a second-to-last event
                sid = rng.choices(seeded, cum_weights=cum)[0]
            ev = rng.choice(EVENTS[1:])
        commands.append(Command(kind, sid, ev, chains.uid(), chains.payload(32, 480, cmd=i)))
    return CommandLoopInputs(bootstrap, extension, commands)


@dataclass
class Tick:
    due_s: float  # offset from window start
    rows: list[dict]


@dataclass
class LiveDeliveryInputs:
    bootstrap: list[dict]
    warmup: Tick  # one micro-batch delivered in set-up
    schedule: list[Tick]


def live_delivery_inputs(
    seed: int,
    seconds: float,
    n_streams: int = 400,
    per_stream: int = 3,
    batch_events: int = 200,
    interval_s: float = 5.0,
) -> LiveDeliveryInputs:
    """The producer's log, a warm-up micro-batch and its open-loop
    schedule: one micro-batch of ``batch_events`` due every
    ``interval_s`` seconds of the window, each event's ``data`` stamped
    with the offset (``due_s``) it was due at."""
    chains = Chains(random.Random(f"live_delivery:{seed}"), "part-")
    bootstrap = bootstrap_rows(chains, n_streams, per_stream)
    warmup = Tick(0.0, extension_rows(chains, batch_events, due_s=0.0))
    schedule = []
    n_ticks = max(1, int(seconds // interval_s) + (seconds % interval_s > 0))
    for k in range(n_ticks):
        due = round(k * interval_s, 3)
        schedule.append(Tick(due, extension_rows(chains, batch_events, due_s=due)))
    return LiveDeliveryInputs(bootstrap, warmup, schedule)


def query_order(seed: int, names: list[str]) -> list[str]:
    order = list(names)
    random.Random(f"pipeline_queries:{seed}").shuffle(order)
    return order
