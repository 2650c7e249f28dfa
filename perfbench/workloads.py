"""The benchmark workloads.  Each takes a ``Ctx`` and returns an
``Outcome``: its setup time, its request latencies and freshness lags
(what each means is on the workload), its operation counts and
correctness problems, and its per-layer figures.

Only public program calls are driven: ``EventStore``'s API,
``stats()``, ``last_append_profile``, ``prefetch_counters`` and
``queries.QUERIES``.  Every call into a layer sits in a tracer span.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import gen
from fstore_sql_spark import EventStore, errors
from fstore_sql_spark.storage import current_log_dir
from measure import Tracer, geomean, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
VIEW = "bench"
APPEND_PHASES = (
    "candidates_s", "validate_s", "t6_locks_s", "offset_number_s",
    "hwm_merge_s", "parquet_write_s", "marker_publish_s",
)
QUERY_NAMES = (
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "dedup_minhash_lsh_pairs", "embedding_neardup_pairs",
    "ann_topk_bruteforce", "vocab_top_terms", "equi_depth_histogram",
    "triangle_count", "multimodal_features", "session_window_rollup",
    "es_stream_next_offset", "user_sessions", "text_fingerprint",
)
CANDIDATE_SCHEMA = StructType([
    StructField("event", StringType(), False),
    StructField("event_id", StringType(), False),
    StructField("event_version", LongType(), False),
    StructField("decider", StringType(), False),
    StructField("decider_id", StringType(), False),
    StructField("data", StringType(), False),
    StructField("command_id", StringType(), False),
    StructField("previous_id", StringType(), True),
    StructField("final", BooleanType(), False),
    StructField("seq", LongType(), False),
])


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    workdir: str
    scale: float = 1.0  # input-size multiplier; the smoke tests shrink it

    def n(self, base: int) -> int:
        return max(1, int(base * self.scale))


@dataclass
class Outcome:
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    lags: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    polls: int = 0  # the consumer's stream_events calls
    window_t0: float = 0.0  # perf_counter() at the start of the timed window
    latency_s: float = 0.0  # the headline figures, from the samples above
    lag_s: float = 0.0

    def problem(self, msg: str) -> None:
        if len(self.problems) < 20:
            self.problems.append(msg)

    def absorb(self, other: "Outcome") -> None:
        """Add ``other``'s operation counts and problems, not its timings."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.polls += other.polls
        for msg in other.problems:
            self.problem(msg)


def candidates(spark, rows: list[dict]):
    return spark.createDataFrame(pd.DataFrame(rows, columns=CANDIDATE_SCHEMA.fieldNames()), CANDIDATE_SCHEMA)


def open_store(ctx: Ctx, path: str, register: bool = True) -> EventStore:
    with ctx.tracer.span("store.open", jobs=True):
        store = EventStore(ctx.spark, path)
        if register:
            for ev in gen.EVENTS:
                store.register_decider_event(gen.DECIDER, ev, f"benchmark {ev}")
    return store


def chain_problem(rows) -> str | None:
    """None when ``rows`` (one replayed stream) is an intact chain in
    strictly increasing offset order."""
    prev_id, prev_off = None, 0
    for r in rows:
        if r["previous_id"] != prev_id:
            return f"{r['decider_id']}: broken chain at offset {r['offset']}"
        if r["offset"] <= prev_off:
            return f"{r['decider_id']}: offset {r['offset']} after {prev_off}"
        prev_id, prev_off = r["event_id"], r["offset"]
    return None


def log_problems(store: EventStore, n_expected: int) -> list[str]:
    """Whole-log check after the window: ``stats()`` counts
    ``n_expected`` events, offsets run 1..n without gaps, and every
    stream is one chain (a single head, each ``previous_id`` an earlier
    event of the same stream, no forks)."""
    st = store.stats()
    ev = store.events().select("event_id", "decider_id", "previous_id", "offset")
    par = ev.select(
        F.col("event_id").alias("p_id"), F.col("decider_id").alias("p_stream"), F.col("offset").alias("p_off")
    )
    linked_back = (F.col("p_stream") == F.col("decider_id")) & (F.col("p_off") < F.col("offset"))
    agg = (
        ev.join(par, ev.previous_id == par.p_id, "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.count_distinct("offset").alias("offsets"),
            F.count_distinct("decider_id").alias("streams"),
            F.sum(F.col("previous_id").isNull().cast("int")).alias("heads"),
            F.count("previous_id").alias("linked"),
            F.count_distinct("previous_id").alias("parents"),
            F.sum(
                (F.col("previous_id").isNotNull() & ~F.coalesce(linked_back, F.lit(False))).cast("int")
            ).alias("bad_links"),
        )
        .collect()[0]
    )
    problems = []
    if not st["n_events"] == st["max_offset"] == agg["n"] == n_expected:
        problems.append(
            f"log: n_events {st['n_events']}, max_offset {st['max_offset']}, "
            f"{agg['n']} rows, expected {n_expected} committed events"
        )
    if (agg["lo"], agg["hi"], agg["offsets"]) != (1, agg["n"], agg["n"]):
        problems.append(f"log: offsets {agg['lo']}..{agg['hi']}, {agg['offsets']} distinct of {agg['n']}")
    if agg["heads"] != agg["streams"] or agg["parents"] != agg["linked"] or agg["bad_links"]:
        problems.append(
            f"log: {agg['heads']} chain heads for {agg['streams']} streams, "
            f"{agg['linked'] - agg['parents']} forks, {agg['bad_links']} broken links"
        )
    return problems


def storage_layer(store: EventStore, out: Outcome, commits: int) -> None:
    """Log size, state residency and cache counters after the window.
    Counters that grow with the work done are divided by it: files by
    commits, cache and ``hwm`` counters by the consumer's polls."""
    st = store.stats()
    log_dir = current_log_dir(store.storage.root, "events")
    log_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(log_dir)
        for f in files
        if f.endswith(".parquet")
    )
    payload = store.events().agg(F.sum(F.length("data"))).collect()[0][0] or 0
    n = max(1, st["n_events"])
    pf = st["prefetch"]
    looked = pf["hits"] + pf["misses"]
    polls = max(1, out.polls)
    out.layer.update({
        "storage.log_files_per_commit": st["log_files"] / max(1, commits),
        "storage.bytes_per_event": log_bytes / n,
        "storage.bytes_per_payload_byte": log_bytes / max(1, payload),
        "ledger.resident_bytes": st["ledger_resident_bytes"],
        "hwm.resident_bytes": st["hwm_resident_bytes"],
        "hwm.rebuilds_per_poll": st["hwm_rebuilds"] / polls,
        "store.prefetch.hits_per_poll": pf["hits"] / polls,
        "store.prefetch.misses_per_poll": pf["misses"] / polls,
        "store.prefetch.refills_per_poll": pf["refills"] / polls,
        "store.prefetch.hit_rate": pf["hits"] / looked if looked else 0.0,
    })


def span_layer(tr: Tracer, out: Outcome) -> None:
    """Per-call latencies and Spark work read off the spans of the timed
    window (``register_view`` runs in set-up only)."""
    def named(name):
        return [s for s in tr.named(name) if s.start >= out.window_t0 or name == "store.register_view"]

    def p50(name):
        xs = [s.end - s.start for s in named(name)]
        return percentile(xs, 50) if xs else 0.0

    def per_call(name, attr):
        xs = [getattr(s, attr) for s in named(name)]
        return sum(xs) / len(xs) if xs else 0.0

    parent = {s.id: s.name for s in tr.spans}
    # a command's 1-event appends and the producer's micro-batch appends
    appends = [s for s in named("store.append_batch") if parent.get(s.parent) == "command"]
    batches = [s for s in named("store.append_batch") if parent.get(s.parent) == "batch"]
    out.layer["store.append_batch_s"] = percentile([s.end - s.start for s in appends], 50) if appends else 0.0
    out.layer["live.append_batch_s"] = percentile([s.end - s.start for s in batches], 50) if batches else 0.0
    out.layer["spark.jobs_per_append"] = sum(s.jobs for s in appends) / len(appends) if appends else 0.0
    out.layer["spark.tasks_per_append"] = sum(s.tasks for s in appends) / len(appends) if appends else 0.0
    for name in ("store.get_events", "store.ack_events", "store.register_view"):
        out.layer[f"{name}_s"] = p50(name)
    for kind in ("hit", "refill"):
        out.layer[f"store.stream_events_{kind}_s"] = p50(f"store.stream_events.{kind}")
    out.layer["spark.jobs_per_replay"] = per_call("store.get_events", "jobs")
    out.layer["spark.jobs_per_refill"] = per_call("store.stream_events.refill", "jobs")
    for q in QUERY_NAMES:
        out.layer[f"queries.{q}_s"] = p50(f"queries.{q}")


# ---------------------------------------------------------------- #
# event_store: live delivery, then the command loop, on one store
# ---------------------------------------------------------------- #

# Share of the window given to live delivery; the command loop gets the
# rest.
LIVE_SHARE = 0.5
# Consumer back-off after an empty poll.  An empty stream_events call is
# ~30 ms of Python in this process; polling without a pause holds the GIL the
# producer thread's append needs most of the time.
POLL_S = 0.1
# Window commands that run even past the phase's deadline.  The phase fits
# five to seven commands, and whether the last one fitted moved the median
# more than the program did.
MIN_COMMANDS = 4


def event_store(ctx: Ctx) -> Outcome:
    """Setup seeds one log (bulk bootstrap, then a bulk batch extending
    it), opens a second store on the same path as the consumer and
    registers its view.  Setup then warms both paths: the generator's
    head commands (a new stream, a stale lock) and one
    delivered micro-batch; the first calls of a path are up to 1.5x as
    slow as later ones.  The window runs live delivery, then the command
    loop; each phase is described on its own function.  Last, the
    consumer drains the commands' events and the whole log is checked."""
    out = Outcome()
    tr = ctx.tracer
    live_s = ctx.seconds * LIVE_SHARE
    cl = gen.command_loop_inputs(ctx.seed, n_streams=ctx.n(300), n_extension=ctx.n(3000))
    ld = gen.live_delivery_inputs(
        ctx.seed, live_s, n_streams=ctx.n(400), batch_events=ctx.n(200)
    )
    bootstrap = [{**r, "seq": i} for i, r in enumerate(cl.bootstrap + ld.bootstrap)]
    head = len(gen.HEAD_KINDS)
    path = os.path.join(ctx.workdir, "store")

    t_setup = time.perf_counter()
    producer = open_store(ctx, path)
    consumer = open_store(ctx, path, register=False)
    with tr.span("store.append_batch", jobs=True):
        producer.append_batch(candidates(ctx.spark, bootstrap))
    ext = candidates(ctx.spark, cl.extension)
    t0 = time.perf_counter()
    with tr.span("store.append_batch", jobs=True):
        producer.append_batch(ext)
    bulk_s = time.perf_counter() - t0
    bulk_profile = dict(producer.last_append_profile)
    with tr.span("store.register_view", jobs=True):
        consumer.register_view(VIEW)  # start_at NOW: the seeded log counts as consumed
    warm = Outcome()  # counts and checks only; its timings are dropped
    warm_appended = run_commands(ctx, producer, cl.commands[:head], 0.0, warm, at_least=head)
    drain(consumer, warm_appended, warm)
    _, warm_events = run_live(
        ctx, producer, consumer, [ld.warmup], [candidates(ctx.spark, ld.warmup.rows)], 0.0, warm
    )
    batches = [candidates(ctx.spark, t.rows) for t in ld.schedule]
    out.setup_s = time.perf_counter() - t_setup
    out.absorb(warm)
    out.layer["bulk.ingest_events_per_s"] = len(cl.extension) / bulk_s
    for k in APPEND_PHASES:
        out.layer[f"bulk.append.{k}"] = bulk_profile.get(k, 0.0)

    out.window_t0 = time.perf_counter()
    live_batches, live_events = run_live(ctx, producer, consumer, ld.schedule, batches, live_s, out)
    appended = run_commands(ctx, producer, cl.commands[head:], ctx.seconds - live_s, out, MIN_COMMANDS)
    drain(consumer, appended, out)
    # the bulk batches' numbering and chains, with everything after them
    out.attempted += 1
    n_committed = len(bootstrap) + len(cl.extension) + len(warm_appended) + warm_events
    for msg in log_problems(consumer, n_committed + live_events + len(appended)):
        out.failed += 1
        out.problem(msg)
    # the two seeding batches and the warm-up micro-batch, then one per append
    commits = 3 + len(warm_appended) + live_batches + len(appended)
    storage_layer(consumer, out, commits=commits)
    out.latency_s = percentile(out.latencies, 50) if out.latencies else 0.0
    out.lag_s = percentile(out.lags, 50) if out.lags else 0.0
    return out


def drain(consumer: EventStore, appended: set[str], out: Outcome) -> None:
    """Stream and ack until the view is empty; the events delivered must
    be exactly ``appended``."""
    drained = []
    for _ in range(len(appended) + 1):  # each poll delivers at least one event
        out.polls += 1
        rows = consumer.stream_events(VIEW, limit=100).collect()
        if not rows:
            break
        consumer.ack_events(VIEW, [(r["decider_id"], r["offset"]) for r in rows], returning=False)
        drained += [r["event_id"] for r in rows]
    out.attempted += 1
    if sorted(drained) != sorted(appended):
        out.failed += 1
        out.problem(f"drain: {len(drained)} events, expected the {len(appended)} the commands appended")


def run_commands(
    ctx: Ctx, store: EventStore, commands, seconds: float, out: Outcome, at_least: int
) -> set[str]:
    """Closed loop, one client: replay a Zipf-chosen stream with
    ``get_events`` and append one event on its tail; stale commands
    append on the second-to-last event and must raise
    ``OptimisticLockError``.  The first ``at_least`` commands always
    run, past the deadline if need be.  ``store.append.*`` is the mean
    ``last_append_profile`` of the successful appends.  Returns the event
    ids appended."""
    tr = ctx.tracer
    replays: list[list] = []
    expected_len: dict[str, int] = {}
    appended: set[str] = set()
    phases: list[dict] = []
    deadline = time.perf_counter() + seconds
    for i, cmd in enumerate(commands):
        if i >= at_least and time.perf_counter() >= deadline:
            break
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("command") as parent:
                with tr.span("store.get_events", parent, jobs=True):
                    rows = store.get_events(cmd.decider_id, gen.DECIDER).collect()
                if cmd.kind == "stale":
                    prev = rows[-2]["event_id"]
                else:
                    prev = rows[-1]["event_id"] if rows else None
                try:
                    with tr.span("store.append_batch", parent, jobs=True):
                        store.append_event(
                            cmd.event, cmd.event_id, gen.DECIDER, cmd.decider_id,
                            data=cmd.data, command_id=cmd.event_id, previous_id=prev,
                        )
                    raised = False
                except errors.OptimisticLockError:
                    raised = True
        except Exception as e:  # noqa: BLE001 - a failed command is counted, the loop goes on
            out.failed += 1
            out.problem(f"command {cmd.kind} {cmd.decider_id}: {type(e).__name__}: {e}")
            continue
        out.latencies.append(time.perf_counter() - t0)
        if not raised:
            phases.append(dict(store.last_append_profile))
        replays.append(rows)
        if raised != (cmd.kind == "stale"):
            out.failed += 1
            out.problem(f"command {cmd.kind} {cmd.decider_id}: OptimisticLockError raised={raised}")
        elif not raised:
            expected_len[cmd.decider_id] = len(rows) + 1
            appended.add(cmd.event_id)
    for k in APPEND_PHASES:
        out.layer[f"store.append.{k}"] = sum(p.get(k, 0.0) for p in phases) / max(1, len(phases))

    # correctness, outside the window
    for rows in replays:
        msg = chain_problem(rows)
        if msg:
            out.failed += 1
            out.problem(f"replay {msg}")
    final: dict[str, list] = {}
    if expected_len:
        for r in store.get_events_many([(d, gen.DECIDER) for d in expected_len]).collect():
            final.setdefault(r["decider_id"], []).append(r)
    for d, n in expected_len.items():
        got = final.get(d, [])
        msg = chain_problem(got) or (None if len(got) == n else f"{d}: {len(got)} events, expected {n}")
        if msg:
            out.failed += 1
            out.problem(f"final {msg}")
    return appended


def run_live(ctx, producer, consumer, schedule, batches, seconds, out: Outcome) -> tuple[int, int]:
    """An open-loop producer thread appends the scheduled micro-batches
    while the main thread runs a closed ``stream_events(limit=100)`` +
    ``ack_events`` loop on the consumer store, until every committed
    event is delivered.  Lag runs from an event's due time to its
    return.  Returns the number of batches and events committed."""
    tr = ctx.tracer
    committed: list[int] = []  # schedule indices whose append returned
    late: list[float] = []
    prod_errors: list[str] = []
    t0 = time.perf_counter()

    def produce() -> None:
        for k, (tick, df) in enumerate(zip(schedule, batches)):
            wait = t0 + tick.due_s - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            late.append(max(0.0, -wait))
            try:
                with tr.span("batch") as parent, tr.span("store.append_batch", parent, jobs=True):
                    producer.append_batch(df)
                committed.append(k)
            except Exception as e:  # noqa: BLE001 - reported as a failed batch
                prod_errors.append(f"batch {k}: {type(e).__name__}: {e}")

    thread = threading.Thread(target=produce, name="producer", daemon=True)
    thread.start()
    delivered: list[tuple[str, int, str, float]] = []  # partition, offset, event_id, at
    ticks = tick_failures = 0
    backlog_end = None
    hard_stop = t0 + seconds + 60
    while time.perf_counter() < hard_stop:
        n_committed = sum(len(schedule[k].rows) for k in list(committed))
        if backlog_end is None and time.perf_counter() - t0 >= seconds:
            backlog_end = n_committed - len(delivered)
        if not thread.is_alive() and len(delivered) >= n_committed:
            break
        ticks += 1
        refills = consumer.prefetch_counters["refills"]
        try:
            with tr.span("tick") as parent:
                with tr.span("store.stream_events", parent, jobs=True) as sp:
                    rows = consumer.stream_events(VIEW, limit=100).collect()
                at = time.perf_counter() - t0
                if sp is not None:
                    sp.name += ".refill" if consumer.prefetch_counters["refills"] != refills else ".hit"
                if rows:
                    with tr.span("store.ack_events", parent, jobs=True):
                        consumer.ack_events(VIEW, [(r["decider_id"], r["offset"]) for r in rows], returning=False)
        except Exception as e:  # noqa: BLE001 - a failed tick is counted, the loop goes on
            tick_failures += 1
            out.problem(f"tick: {type(e).__name__}: {e}")
            continue
        delivered += [(r["decider_id"], r["offset"], r["event_id"], at) for r in rows]
        if not rows:
            time.sleep(POLL_S)
    thread.join(timeout=60)
    if thread.is_alive():
        out.problem("producer thread did not finish")

    out.polls += ticks
    out.attempted += ticks + len(schedule)
    out.failed += tick_failures + len(prod_errors)
    for m in prod_errors:
        out.problem(m)
    # correctness: every event committed after registration acked
    # exactly once, per-partition offsets in delivery order
    due = {r["event_id"]: t.due_s for t in schedule for r in t.rows}
    seen: dict[str, int] = {}
    last_off: dict[str, int] = {}
    for part, off, eid, at in delivered:
        seen[eid] = seen.get(eid, 0) + 1
        if off <= last_off.get(part, 0):
            out.failed += 1
            out.problem(f"{part}: offset {off} delivered after {last_off[part]}")
        last_off[part] = off
        if eid in due:
            out.lags.append(at - due[eid])
    expected = {r["event_id"] for k in committed for r in schedule[k].rows}
    missing = expected - set(seen)
    dup = [e for e, c in seen.items() if c > 1]
    stray = set(seen) - expected
    if missing or dup or stray:
        out.failed += 1
        out.problem(f"delivery: {len(missing)} missing, {len(dup)} twice, {len(stray)} unexpected")
    out.layer["loadgen.late_s_max"] = max(late) if late else 0.0
    out.layer["live.backlog_end_events"] = float(backlog_end or 0)
    return len(committed), len(expected)


# ---------------------------------------------------------------- #
# pipeline_queries
# ---------------------------------------------------------------- #


MIN_PASSES = 4


def pipeline_queries(ctx: Ctx) -> Outcome:
    """Warm passes over the query list in a seeded order, each query
    forced with a ``noop`` write.  Setup is one cold pass, whose collected
    results are checked against DuckDB.  Latency is per query, its median
    over the passes; lag is the wall time of a whole pass, the time until
    every result of the pipeline is fresh."""
    import fstore_sql_spark.operators  # noqa: F401 - registers the operator queries
    from fstore_sql_spark.queries import ORACLES, QUERIES

    out = Outcome()
    tr = ctx.tracer
    data = os.path.join(HERE, "data", "sf0.01" if ctx.scale >= 1 else "sf0.001")
    order = gen.query_order(ctx.seed, list(QUERY_NAMES))
    t_setup = time.perf_counter()
    cold = {}
    for name in order:
        df = QUERIES[name](ctx.spark, data)
        cold[name] = (df.columns, [tuple(r) for r in df.collect()])
    out.setup_s = time.perf_counter() - t_setup

    t_start = out.window_t0 = time.perf_counter()
    times: dict[str, list[float]] = {name: [] for name in order}
    # MIN_PASSES always run (about the window), so the medians do not hang
    # on whether the last pass fitted; then another only if it should end
    # inside the window
    while len(out.lags) < MIN_PASSES or time.perf_counter() - t_start + out.lags[-1] <= ctx.seconds:
        t_pass = time.perf_counter()
        with tr.span("pass") as parent:
            for name in order:
                out.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tr.span(f"queries.{name}", parent, jobs=True):
                        QUERIES[name](ctx.spark, data).write.format("noop").mode("overwrite").save()
                    times[name].append(time.perf_counter() - t0)
                except Exception as e:  # noqa: BLE001 - a failed query is counted, the pass goes on
                    out.failed += 1
                    out.problem(f"{name}: {type(e).__name__}: {e}")
        out.lags.append(time.perf_counter() - t_pass)
    # one latency per query, its median over the passes; the headline is
    # their geometric mean (as in TPC-H's power metric), which weighs every
    # query's speed-up alike and moved less between runs than their median
    out.latencies = [percentile(xs, 50) for xs in times.values() if xs]
    out.latency_s = geomean(out.latencies) if out.latencies else 0.0
    out.lag_s = percentile(out.lags, 50)

    import duckdb

    from tools.check_correctness import value_hash

    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{os.path.join(data, f)}')")
    for name, (cols, rows) in cold.items():
        tbl = con.execute(ORACLES[name]).arrow()
        dcols = [c.lower() for c in tbl.column_names]
        drows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
        scols = [c.lower() for c in cols]
        ok = sorted(scols) == sorted(dcols) and len(rows) == len(drows) and value_hash(
            rows, [scols.index(c) for c in sorted(scols)]
        ) == value_hash(drows, [dcols.index(c) for c in sorted(dcols)])
        if not ok:
            out.failed += 1
            out.problem(f"{name}: result differs from its DuckDB oracle")
    con.close()
    return out


WORKLOADS = {
    "event_store": event_store,
    "pipeline_queries": pipeline_queries,
}
