"""The driver-side point reader (``EventStore._point_read_files``):
``get_events`` (and ``as_of``), ``get_last_event``, C1's ``event_id``
probe, the read-ahead refill and ``stats()`` answered with pyarrow
instead of Spark jobs while the files they pick hold at most
``POINT_READ_MAX_ROWS`` rows.

- Cost: within the budget those calls run no Spark job; with the
  instance's budget at 0 they run their Spark plans again.
- A hypothesis differential test runs every read both ways on the same
  store (the Spark plan is the same instance with its budget at 0) over
  several commits, a ``compact()``, a sibling store's commits, an
  in-flight batch whose files sit above the published marker, and a
  crashed batch that recovery quarantines or publishes.  Rows, their
  ``created_at`` values and the column types must be identical.  The log
  mixes files the driver wrote (index-path batches) with files Spark
  wrote (set-path batches, ``compact()``); ``events()``, the point
  reader and ``streaming_events`` read the whole of it alike, before and
  after a ``compact()``.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

import pandas as pd
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fstore_sql_spark import EventStore, errors
from fstore_sql_spark.ledger import ProcessLock
from fstore_sql_spark.schemas import EVENTS_SCHEMA
from fstore_sql_spark.storage import Manifest, current_log_dir
from fstore_sql_spark.streaming.windows import streaming_events
from test_index_path import _jobs

PAST = "2000-01-01T00:00:00"
VIEW = "v"


def open_store(spark, path):
    store = EventStore(spark, path)
    store.register_decider_event("acct", "opened", "point reader test")
    store.register_decider_event("acct", "credited", "point reader test")
    store.register_decider_event("card", "opened", "point reader test")
    store.register_view(VIEW, start_at=PAST)
    return store


def chain(key, n, prev=None, tag="e"):
    """``n`` chained rows on stream ``key`` after ``prev``."""
    rows = []
    for i in range(n):
        eid = f"{tag}-{key[0]}-{key[1]}-{i}"
        rows.append({
            "event": "opened" if prev is None else "credited",
            "event_id": eid,
            "decider": key[1],
            "decider_id": key[0],
            "data": f'{{"i": {i}}}',
            "command_id": f"c-{eid}",
            "previous_id": prev,
        })
        prev = eid
    return rows


def spark_plan(store, fn):
    """``fn()`` on the Spark plan: the same instance, budget 0."""
    store.POINT_READ_MAX_ROWS = 0
    try:
        return fn()
    finally:
        del store.POINT_READ_MAX_ROWS


def test_point_reads_run_no_spark_jobs(spark):
    path = tempfile.mkdtemp(prefix="fstore_reader_")
    try:
        store = open_store(spark, path)
        store.append_batch(chain(("a", "acct"), 3) + chain(("b", "acct"), 2))
        store.append_event("credited", "a-3", "acct", "a", previous_id="e-a-acct-2")
        manifest = store.storage.read_manifest("events")

        def dup_append():  # C1 on the index path: raises before any write
            with pytest.raises(errors.DuplicateEventIdError):
                store.append_event("credited", "e-b-acct-0", "acct", "b", previous_id="e-b-acct-1")

        def refill():
            store._prefetch.clear()
            before = store.prefetch_counters["refills"]
            rows = store.stream_events(VIEW, limit=2).collect()
            assert store.prefetch_counters["refills"] == before + 1
            assert sorted(r["offset"] for r in rows) == [1, 4]
            for r in rows:
                store.nack_event(VIEW, r["decider_id"])

        calls = {
            "get_events": lambda: store.get_events("a", "acct").collect(),
            "get_events as_of": lambda: store.get_events("a", "acct", as_of=1).collect(),
            "get_last_event": lambda: store.get_last_event("a", "acct").collect(),
            "C1 probe": dup_append,
            "refill": refill,
            "stats": store.stats,
        }
        for name, call in calls.items():
            assert _jobs(spark, call) == 0, name
        assert [r["event_id"] for r in store.get_events("a", "acct").collect()][-1] == "a-3"
        assert len(store.get_events("a", "acct", as_of=1).collect()) == 3
        assert store.stats()["n_events"] == manifest.max_offset
        store.POINT_READ_MAX_ROWS = 0  # instance-shadowed: the Spark plans
        for name, call in calls.items():
            assert _jobs(spark, call) > 0, name
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------- #
# differential: reader against the Spark plan
# ---------------------------------------------------------------- #


class History:
    """The streams committed so far: key -> event ids in order."""

    def __init__(self):
        self.streams: dict[tuple[str, str], list[str]] = {}
        self.n = 0

    def new_key(self):
        self.n += 1
        return (f"s{self.n:03d}", "acct")

    def rows(self, data, tag):
        """A batch: new streams and chains on existing tails."""
        out = []
        for _ in range(data.draw(st.integers(1, 3), label="new streams")):
            out += chain(self.new_key(), data.draw(st.integers(1, 3)), tag=tag)
        open_keys = sorted(k for k in self.streams if k[1] == "acct")
        if open_keys:
            for key in data.draw(st.lists(st.sampled_from(open_keys), max_size=3, unique=True)):
                out += chain(key, data.draw(st.integers(1, 2)), self.streams[key][-1], tag=tag)
        return out

    def committed(self, rows):
        for r in rows:
            self.streams.setdefault((r["decider_id"], r["decider"]), []).append(r["event_id"])


def frame(store, rows):
    ddl = (
        "event string, event_id string, decider string, decider_id string, "
        "data string, command_id string, previous_id string"
    )
    return store.spark.createDataFrame(pd.DataFrame(rows), ddl)


def append(store, history, rows, set_path):
    if set_path:  # a DataFrame above the index path's threshold
        store.INDEX_PATH_MAX_ROWS = 0
        try:
            store.append_batch(frame(store, rows).withColumn("seq", F.monotonically_increasing_id()))
        finally:
            del store.INDEX_PATH_MAX_ROWS
    else:
        store.append_batch(rows)
    history.committed(rows)


def write_unpublished(store, rows, landed):
    """A committer's batch caught between its log write and its marker:
    the manifest allocates the batch, its files sit in the log directory
    with ``transaction_id`` above the published marker, and the marker
    has not moved.  ``landed`` false declares one row more than landed,
    which recovery treats as a partial batch and quarantines."""
    m = store.storage.read_manifest("events")
    n = len(rows)
    pdf = pd.DataFrame(rows).assign(
        event_version=1,
        final=False,
        created_at=pd.Timestamp("2001-02-03 04:05:06.789012"),
        offset=range(m.max_offset + 1, m.max_offset + n + 1),
        transaction_id=m.commit_id + 1,
    )[[f.name for f in EVENTS_SCHEMA.fields]]
    store.storage.write_manifest(
        "events",
        Manifest(m.max_offset + n, m.commit_id + 1, n if landed else n + 1),
    )
    log_dir = current_log_dir(store.storage.root, "events")
    store.spark.createDataFrame(pdf, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(log_dir)


def compare(store, history, data, hidden=()):
    """Every point read both ways: identical rows and column types."""
    keys = sorted(history.streams)
    picked = data.draw(st.lists(st.sampled_from(keys), min_size=1, max_size=3, unique=True))
    picked += [("s001", "card"), ("nope", "acct")]  # the shared decider_id; no stream
    commit = store.storage.read_published("events")
    as_of = data.draw(st.integers(0, commit), label="as_of")
    checks = []
    for did, dec in picked:
        checks.append((f"get_events {did} {dec}", lambda did=did, dec=dec: store.get_events(did, dec)))
    checks.append(("as_of", lambda: store.get_events(picked[0][0], picked[0][1], as_of=as_of)))
    checks.append(("get_last_event shared", lambda: store.get_last_event("s001", "card")))
    for name, call in checks:
        got, want = call(), spark_plan(store, call)
        assert got.dtypes == want.dtypes, name
        rows = got.collect()
        assert rows == want.collect(), name
        assert not {r["event_id"] for r in rows} & set(hidden), name

    logged = [e for ids in history.streams.values() for e in ids]
    ids = data.draw(st.lists(st.sampled_from(logged), max_size=4)) + list(hidden) + ["fresh"]
    probe = [(None, i) for i in ids]
    m = store.storage.read_manifest("events")
    got = store._logged_event_ids(probe, m)
    assert got == spark_plan(store, lambda: store._logged_event_ids(probe, m))
    assert got == set(ids) - set(hidden) - {"fresh"}

    offsets: dict[str, list[int]] = {}  # partition -> offsets, every decider's
    for d, dec in keys:
        offsets.setdefault(d, [0]).extend(r["offset"] for r in store.get_events(d, dec).collect())
    pairs = []
    for d in data.draw(st.lists(st.sampled_from(sorted(offsets)), min_size=1, max_size=5, unique=True)):
        pairs.append((d, data.draw(st.sampled_from(sorted(offsets[d])), label=f"last_offset {d}")))
    pairs.append(("nope", 0))
    windows = {}
    for way in ("reader", "spark"):
        call = lambda: store._refill_prefetch(VIEW, pairs)  # noqa: E731
        call() if way == "reader" else spark_plan(store, call)
        rows, _, spans = store._prefetch[VIEW]
        windows[way] = (rows.values.tolist(), spans)
    assert windows["reader"] == windows["spark"]
    store._prefetch.clear()

    st_reader, st_spark = store.stats(), spark_plan(store, store.stats)
    for k in ("n_events", "n_partitions"):
        assert st_reader[k] == st_spark[k], k


def writers(path):
    """The programs that wrote the log's non-empty files (the footer's
    ``created_by``): ``parquet-mr`` is Spark, ``parquet-cpp-arrow`` the
    driver writer."""
    out = set()
    for f in glob.glob(os.path.join(current_log_dir(path, "events"), "*.parquet")):
        md = pq.read_metadata(f)
        if md.num_rows:
            out.add(md.created_by.split(" ")[0])
    return out


def whole_log(store, path):
    """The whole log, in offset order, read three ways that must agree:
    ``events()`` (a Spark scan), the point reader, and a
    ``streaming_events`` query run to the end of the log."""
    by_spark = store.events().orderBy("offset").collect()
    table = store._read_files(store._point_read_files(), None).sort_by("offset")
    assert store._local_events(table).collect() == by_spark
    name = f"log_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_events(store.spark, path)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert store.spark.table(name).orderBy("offset").collect() == by_spark
    return by_spark


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=list(HealthCheck),
    derandomize=True,
)
@given(data=st.data())
def test_reader_matches_spark_plan(spark, data):
    path = tempfile.mkdtemp(prefix="fstore_reader_diff_")
    try:
        store = open_store(spark, path)
        history = History()
        # the first batch opens s001 under acct and card: a shared decider_id
        first = history.rows(data, "b0") + chain(("s001", "card"), 1, tag="b0")
        append(store, history, first, set_path=True)
        sibling = EventStore(spark, path)
        steps = ["index", "set", "sibling", "compact"]
        for i, step in enumerate(data.draw(st.permutations(steps), label="steps")):
            if step == "compact":
                store.compact()
            else:
                rows = history.rows(data, f"b{i + 1}")
                append(sibling if step == "sibling" else store, history, rows, step == "set")
        # whatever the order, one more index-path batch leaves the log
        # mixing driver-written and Spark-written files
        append(store, history, history.rows(data, "mixed"), set_path=False)
        assert writers(path) == {"parquet-mr", "parquet-cpp-arrow"}

        # Two batches caught in flight: another committer holds the flock,
        # so no read recovers them, and their files must stay invisible.
        # Then the committer dies, and the next read recovers the batch:
        # the first landed partly and is quarantined, the second landed
        # whole and is published.
        hidden: list[str] = []
        for tag, landed in (("partial", False), ("whole", True)):
            first_key = sorted(history.streams)[0]
            crashed = chain(history.new_key(), 2, tag=tag) + chain(
                first_key, 1, history.streams[first_key][-1], tag=tag
            )
            committer = ProcessLock(os.path.join(path, "events_COMMITTER.lock"))
            assert committer.try_acquire()
            try:
                write_unpublished(store, crashed, landed)
                compare(store, history, data, hidden + [r["event_id"] for r in crashed])
            finally:
                committer.release()
            store.get_events("nope", "acct")
            qdir = os.path.join(current_log_dir(path, "events"), "_quarantine")
            txn = store.storage.read_published("events")
            assert os.path.isdir(os.path.join(qdir, f"txn_{txn}")) != landed
            if landed:
                history.committed(crashed)
            else:
                hidden += [r["event_id"] for r in crashed]
            compare(store, history, data, hidden)

        logged = whole_log(store, path)
        assert len(logged) == sum(map(len, history.streams.values()))
        store.compact()
        assert writers(path) == {"parquet-mr"}
        assert whole_log(store, path) == logged
    finally:
        shutil.rmtree(path, ignore_errors=True)
