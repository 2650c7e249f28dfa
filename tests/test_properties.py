"""Property-based tests (hypothesis) for the append-path invariants and a
compaction round-trip — beyond the reference's example-based corpus
(SURVEY.md §5.2 notes the reference has no property testing)."""

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fstore_sql_spark import EventStore


def uid() -> str:
    return str(uuid.uuid4())


_counter = [0]


def fresh_chained_batch(shape):
    """A valid chained batch: one fresh stream per entry in ``shape``, with
    that many linked events."""
    rows = []
    for n in shape:
        _counter[0] += 1
        stream = f"s-{_counter[0]}"
        prev = None
        for _ in range(n):
            eid = uid()
            rows.append(
                {
                    "event": "e",
                    "event_id": eid,
                    "decider": "d",
                    "decider_id": stream,
                    "previous_id": prev,
                }
            )
            prev = eid
    return rows


stream_shapes = st.lists(st.integers(min_value=1, max_value=4), min_size=1, max_size=4)


@pytest.fixture(scope="module")
def pstore(spark, tmp_path_factory):
    store = EventStore(spark, str(tmp_path_factory.mktemp("prop_store")))
    store.register_decider_event("d", "e", "x")
    return store


# Tier-1 profile: five small batches, each on the index path of
# append_batch, so a run costs a few seconds.
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(shape=stream_shapes)
def test_append_invariants_hold(pstore, shape):
    """After any sequence of valid appends: offsets are globally unique and
    monotone with commit order; every stream's previous_id chain is intact
    with exactly one null-previous head (the invariants asserted by
    /root/reference/tests/utils/assertions.sql:285-326)."""
    before = {r["offset"] for r in pstore.events().select("offset").collect()}
    pstore.append_batch(fresh_chained_batch(shape))
    rows = pstore.events().orderBy("offset").collect()
    offsets = [r["offset"] for r in rows]
    assert len(offsets) == len(set(offsets))
    assert offsets == sorted(offsets)
    assert before <= set(offsets)
    by_stream = {}
    for r in rows:
        by_stream.setdefault((r["decider_id"], r["decider"]), []).append(r)
    for chain in by_stream.values():
        assert chain[0]["previous_id"] is None
        ids = [c["event_id"] for c in chain]
        for i, ev in enumerate(chain[1:], start=1):
            assert ev["previous_id"] == ids[i - 1]


@pytest.mark.slow
def test_compaction_preserves_log(store):
    store.register_decider_event("d", "e", "x")
    for _ in range(5):
        store.append_batch(fresh_chained_batch([2, 1]))
    before_files = store.storage.log_file_count("events")
    before = sorted((r["offset"], r["event_id"]) for r in store.events().collect())
    n_files = store.compact(target_partitions=2)
    after = sorted((r["offset"], r["event_id"]) for r in store.events().collect())
    assert after == before
    assert n_files <= before_files
    # appends continue on the new generation
    store.append_event("e", uid(), "d", "post-compact")
    assert store.get_events("post-compact", "d").count() == 1


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    toks=st.lists(st.integers(min_value=0, max_value=900), min_size=1, max_size=60),
    width=st.sampled_from([1, 3, 8, 1 << 16]),
)
def test_two_phase_pack_positions_equal_global_cumsum(spark, toks, width):
    """pack_positions' distributed two-phase cumsum must be IDENTICAL to
    the naive single-task global window for every token distribution and
    bucket width — including widths that put everything in one bucket and
    widths that give every row its own."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fstore_sql_spark.operators.sampling import pack_positions

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "id long, tok long"
    )
    got = {
        r["id"]: r["start"]
        for r in pack_positions(df, "id", F.col("tok"), bucket_width=width).collect()
    }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["id"]: r["start"]
        for r in df.select(
            "id", F.coalesce(F.sum("tok").over(w), F.lit(0)).alias("start")
        ).collect()
    }
    assert got == want
