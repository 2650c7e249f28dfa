"""Event-store benchmark: one workload per run, one JSON line of results.

    python3 perfbench/run.py --workload event_store --seed 1 --seconds 25 --trace 0

Run from the repository root.  Inputs come from ``--seed``; the timed
window lasts ``--seconds``; ``--trace 1`` records spans around every call
into the program, writes them to ``perfbench/out/`` and reports the
per-layer metrics instead of the end-to-end ones.  The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``.
See perfbench/README.md for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark runs tasks on half the cores (local[2] on a 4-core box), two GC
# threads and two JIT compiler threads: the other cores are left to the
# driver JVM's own threads and the Python process.  On local[4] a 4-core
# box ran more busy threads than cores, and the query passes took ~20 %
# longer than on local[2].
CORES = max(1, min(4, len(os.sched_getaffinity(0))) // 2)
HEAP = "2g"  # the JVM's ceiling (-Xmx); its peak RSS follows the heap it touches
# The parallel collector with fixed generation ratios, so heap size follows
# occupancy.  G1 grows the heap at moments that depend on GC timing (its
# peak RSS varied by a fifth between runs of one input); adaptive sizing
# resized eden run to run, and the page faults of re-growing it made whole
# query runs 1.4x slower at random.  -Xms1g gives eden a fixed ~260 MB; the
# old generation, and so peak RSS, grows with what the program retains.
GC = (
    "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms1g"
    f" -XX:ParallelGCThreads={CORES} -XX:CICompilerCount={max(2, CORES)}"
)
OUT_DIR = os.path.join(HERE, "out")
WORKLOAD_NAMES = ("event_store", "pipeline_queries")
TMP_DIR = os.path.join(HERE, ".tmp")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_s": "s",
    "lag_s": "s",
}
# span name (or dotted prefix) -> self-time metric
SELF_TIMES = {
    "session.get_spark": "self.session_s",
    "store.open": "self.store.open_s",
    "store.append_batch": "self.store.append_batch_s",
    "store.get_events": "self.store.get_events_s",
    "store.stream_events": "self.store.stream_events_s",
    "store.ack_events": "self.store.ack_events_s",
    "store.register_view": "self.store.register_view_s",
    "queries": "self.queries_s",
    "command": "self.bench.command_s",
    "tick": "self.bench.tick_s",
    "batch": "self.bench.batch_s",
    "pass": "self.bench.pass_s",
}


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    from workloads import APPEND_PHASES, QUERY_NAMES

    secs = [
        "session.start_s",
        "store.append_batch_s",
        *(f"store.append.{p}" for p in APPEND_PHASES),
        "live.append_batch_s",
        *(f"bulk.append.{p}" for p in APPEND_PHASES),
        "store.get_events_s",
        "store.stream_events_hit_s",
        "store.stream_events_refill_s",
        "store.ack_events_s",
        "store.register_view_s",
        *(f"queries.{q}_s" for q in QUERY_NAMES),
        "loadgen.late_s_max",
        *SELF_TIMES.values(),
        "trace.overhead_per_span_s",
        "trace.latency_s",
        "trace.latency_p90_s",
        "trace.lag_s",
        "trace.lag_p90_s",
    ]
    counts = [
        "store.prefetch.hits_per_poll", "store.prefetch.misses_per_poll",
        "store.prefetch.refills_per_poll",
        "spark.jobs_per_append", "spark.tasks_per_append", "spark.jobs_per_replay",
        "spark.jobs_per_refill", "storage.log_files_per_commit", "hwm.rebuilds_per_poll",
        "live.backlog_end_events", "trace.spans_per_op",
    ]
    return [
        *((n, "s") for n in secs),
        ("bulk.ingest_events_per_s", "1/s"),
        *((n, "count") for n in counts),
        ("store.prefetch.hit_rate", "ratio"),
        ("storage.bytes_per_event", "B"),
        ("storage.bytes_per_payload_byte", "ratio"),
        ("ledger.resident_bytes", "B"),
        ("hwm.resident_bytes", "B"),
        ("trace.overhead_frac", "ratio"),
    ]


def self_time_key(span_name: str) -> str | None:
    for prefix, key in SELF_TIMES.items():
        if span_name == prefix or span_name.startswith(prefix + "."):
            return key
    return None


def harden_env(workdir: str) -> None:
    """Keep every file Spark and its Python workers write inside
    ``workdir``, and let the workers import the package."""
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = workdir
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # spark-submit's launcher JVM would write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = workdir


def start_session(workdir: str, trace: bool):
    from fstore_sql_spark import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"{GC} -XX:-UsePerfData -Djava.io.tmpdir={workdir} -Dderby.system.home={workdir}"
        ),
    }
    if trace:  # keep every job of the run in the status tracker
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    sys.path.insert(1, ROOT)
    try:
        import fstore_sql_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import the program from {ROOT}: {e}")
    from measure import Tracer, error_rate, peak_rss_mb, percentile
    from workloads import WORKLOADS, Ctx

    os.makedirs(TMP_DIR, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{workload}-", dir=TMP_DIR)
    harden_env(workdir)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(workdir, trace)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext if trace else None)
        tracer.add("session.get_spark", t0, t0 + session_s)
        ctx = Ctx(spark, tracer, seed, seconds, workdir, scale)
        out = WORKLOADS[workload](ctx)
        rss = peak_rss_mb(jvm_pid())
        if trace:
            time.sleep(0.5)  # let the listener bus post the last job ends
            tracer.collect_jobs()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(TMP_DIR)
        except OSError:
            pass

    attempted = max(1, out.attempted, out.failed)
    lat, lag = out.latencies or [0.0], out.lags or [0.0]
    e2e = {
        "setup_s": session_s + out.setup_s,
        "peak_rss_mb": rss,
        "latency_s": out.latency_s,
        "lag_s": out.lag_s,
        "latency_p90_s": percentile(lat, 90),
        "lag_p90_s": percentile(lag, 90),
    }
    if trace:
        from workloads import span_layer

        span_layer(tracer, out)
        layer = {name: 0.0 for name, _ in per_layer()}
        layer.update(out.layer)
        layer["session.start_s"] = session_s
        # self time per span, so a loop that fits more calls in the window
        # does not read as a slower layer
        spans: dict[str, int] = {}
        for name, secs in tracer.self_times().items():
            key = self_time_key(name)
            if key:
                layer[key] += secs
                spans[key] = spans.get(key, 0) + len(tracer.named(name))
        for key, n in spans.items():
            layer[key] /= n
        busy = sum(sp.end - sp.start for sp in tracer.spans if sp.parent is None)
        layer["trace.spans_per_op"] = len(tracer.spans) / attempted
        layer["trace.overhead_per_span_s"] = tracer.overhead_s / max(1, len(tracer.spans))
        layer["trace.overhead_frac"] = tracer.overhead_s / busy if busy else 0.0
        for k in ("latency_s", "latency_p90_s", "lag_s", "lag_p90_s"):
            layer[f"trace.{k}"] = e2e[k]
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"trace-{workload}-{seed}.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "spans": tracer.to_json()}, f)
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in per_layer()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}

    summary = {
        **e2e,
        "latency_samples": len(out.latencies),
        "lag_samples": len(out.lags),
        "error_rate": error_rate(out.failed, attempted),
    }
    for k, v in summary.items():
        print(f"{workload} {k} = {v:.6g}", file=sys.stderr)
    print(f"{workload} latencies_s = {[round(x, 3) for x in out.latencies[:40]]}", file=sys.stderr)
    for p in out.problems:
        print(f"{workload} PROBLEM {p}", file=sys.stderr)
    return {
        "correct": not out.problems and out.failed == 0,
        "attempted": attempted,
        "failed": out.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input-size multiplier (smoke tests use 0.1)")
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
