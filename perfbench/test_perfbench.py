"""Tests of the benchmark itself.

    python -m pytest perfbench -q            # Spark-free checks + smoke runs

The first group needs no Spark.  The command-line runs start one Spark
session each, at a tenth of the input size and a two-second window.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from measure import Span, Tracer, error_rate, geomean, percentile  # noqa: E402


# ------------------------------------------------------------------ #
# Spark-free
# ------------------------------------------------------------------ #


def digest(obj) -> str:
    """sha256 of a canonical JSON rendering of generated inputs."""
    def enc(o):
        if hasattr(o, "__dataclass_fields__"):
            return {k: enc(getattr(o, k)) for k in o.__dataclass_fields__}
        if isinstance(o, (list, tuple)):
            return [enc(x) for x in o]
        return o

    return hashlib.sha256(json.dumps(enc(obj), sort_keys=True).encode()).hexdigest()


def test_generators_are_deterministic_per_seed():
    a = gen.command_loop_inputs(7, n_streams=20, n_extension=100, n_commands=50)
    b = gen.command_loop_inputs(7, n_streams=20, n_extension=100, n_commands=50)
    c = gen.command_loop_inputs(8, n_streams=20, n_extension=100, n_commands=50)
    assert digest(a) == digest(b) != digest(c)
    la = gen.live_delivery_inputs(7, 10, n_streams=20, batch_events=30)
    lb = gen.live_delivery_inputs(7, 10, n_streams=20, batch_events=30)
    assert digest(la) == digest(lb)
    assert gen.query_order(3, list("abcdef")) == gen.query_order(3, list("abcdef"))


def _chains_ok(rows, tails=None):
    tails = dict(tails or {})
    for r in sorted(rows, key=lambda r: r["seq"]):
        assert r["previous_id"] == tails.get(r["decider_id"])
        tails[r["decider_id"]] = r["event_id"]
    return tails


def test_batches_chain_onto_earlier_batches():
    inp = gen.command_loop_inputs(1, n_streams=30, n_extension=300, n_commands=10)
    tails = _chains_ok(inp.bootstrap)
    _chains_ok(inp.extension, tails)
    new = {r["decider_id"] for r in inp.extension} - set(tails)
    assert 0 < len(new) < 0.25 * len(inp.extension)
    live = gen.live_delivery_inputs(1, 9, n_streams=30, batch_events=40, interval_s=4.0)
    assert [t.due_s for t in live.schedule] == [0.0, 4.0, 8.0]
    tails = _chains_ok(live.bootstrap)
    for t in [live.warmup, *live.schedule]:
        tails = _chains_ok(t.rows, tails)
        assert all(json.loads(r["data"])["due_s"] == t.due_s for r in t.rows)


def test_command_mix_shares_and_zipf_skew():
    inp = gen.command_loop_inputs(2, n_streams=200, n_extension=400, n_commands=4000)
    kinds = [c.kind for c in inp.commands]
    assert tuple(kinds[: len(gen.HEAD_KINDS)]) == gen.HEAD_KINDS
    length: dict[str, int] = {}
    for r in inp.bootstrap + inp.extension:
        length[r["decider_id"]] = length.get(r["decider_id"], 0) + 1
    # a stale command appends on the second-to-last event of its stream
    assert all(length.get(c.decider_id, 0) >= 2 for c in inp.commands if c.kind == "stale")
    assert abs(kinds.count("new") / 4000 - gen.NEW_STREAM_SHARE) < 0.015
    assert abs(kinds.count("stale") / 4000 - gen.STALE_LOCK_SHARE) < 0.01
    hits: dict[str, int] = {}
    for c in inp.commands:
        if c.kind != "new":
            hits[c.decider_id] = hits.get(c.decider_id, 0) + 1
    top = sorted(hits.values(), reverse=True)
    assert top[0] > 10 * top[len(top) // 2]  # the head is far hotter than the median
    assert len({c.event_id for c in inp.commands}) == 4000


def test_percentile_interpolates_between_ranks():
    assert percentile([3.0], 90) == 3.0
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile(range(1, 11), 90) == pytest.approx(9.1)
    assert percentile([5, 1, 4, 2, 3], 0) == 1 and percentile([5, 1, 4, 2, 3], 100) == 5
    with pytest.raises(ValueError):
        percentile([], 50)


def test_geomean():
    assert geomean([4.0]) == 4.0
    assert geomean([1, 4, 16]) == pytest.approx(4.0)
    for bad in ([], [1.0, 0.0]):
        with pytest.raises(ValueError):
            geomean(bad)


def test_error_rate():
    assert error_rate(0, 10) == 0.0
    assert error_rate(3, 12) == 0.25
    for bad in ((1, 0), (-1, 5), (6, 5)):
        with pytest.raises(ValueError):
            error_rate(*bad)


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [
        Span(1, "command", None, 0.0, 10.0),
        Span(2, "store.get_events", 1, 1.0, 3.0),
        Span(3, "store.append_batch", 1, 4.0, 9.0),
        Span(4, "command", None, 10.0, 11.0),
    ]
    assert tr.self_times() == {"command": 4.0, "store.get_events": 2.0, "store.append_batch": 5.0}


def test_tracer_off_records_nothing():
    tr = Tracer()
    with tr.span("store.open", jobs=True) as sp:
        assert sp is None
    assert tr.spans == [] and tr.overhead_s == 0.0


# ------------------------------------------------------------------ #
# command-line runs
# ------------------------------------------------------------------ #

ROOT = os.path.dirname(HERE)


def _run(workload, trace, cwd=ROOT):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--scale", "0.1"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", ".tmp", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("event_store", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize(
    "workload,trace",
    [("event_store", 0), ("event_store", 1), ("pipeline_queries", 0)],
)
def test_smoke_run(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    if trace:
        assert os.path.exists(os.path.join(HERE, "out", f"trace-{workload}-3.json"))
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
