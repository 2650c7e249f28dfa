"""EventStore — the engine facade (SURVEY.md §2.1 A1–A9).

Every API function of the reference (``/root/reference/schema.sql:325-468``)
is re-expressed as a declarative DataFrame program:

==========================  =================================================
reference function          engine method
==========================  =================================================
register_decider_event A1   EventStore.register_decider_event
append_event           A2   EventStore.append_event / append_batch
get_events             A3   EventStore.get_events
get_last_event         A4   EventStore.get_last_event
register_view          A5   EventStore.register_view
stream_events          A6   EventStore.stream_events
ack_event              A7   EventStore.ack_event
nack_event             A8   EventStore.nack_event
schedule_nack_event    A9   EventStore.schedule_nack_event
==========================  =================================================

Design decisions (SURVEY.md §7):

- **Two validation paths** (§2.3): the reference fires three plpgsql row
  triggers + three constraints per inserted row.  A small batch is
  decided on the driver from a stream-tail index (the per-partition
  watermark plus the tail event id — the ``decider_index`` probe
  analogue); a large or undecidable batch is validated as a set, with
  semi/anti joins against the log snapshot plus window functions for
  intra-batch chain checks — strictly better asymptotics for bulk
  appends.  See ``append_batch``.
- **Offset assignment** (§7.4): appends are serialized through the single
  committer; ``offset = manifest.max_offset + row_number() OVER (ORDER BY
  seq)``.  Unique, globally monotonic in commit order, per-stream ascending
  — exactly BIGSERIAL minus rollback gaps (gaps are permitted; the
  reference's tests assert only monotonicity).
- **Derive, don't dual-write** (§7.5): the ``locks`` table's high-watermark
  columns (``offset``, ``offset_final``) are a pure function of ``events``
  and are recomputed at read time; only genuine consumer state
  (``last_offset``, ``locked_until``) is persisted.  An append is visible to
  streaming the moment the log commit lands — no events↔locks atomicity gap.
- **NOW() freezing** (§7.3 item 6): Postgres freezes NOW() per transaction;
  each engine API call computes one timestamp on the driver and injects it
  as a literal, so a call behaves like one reference transaction.
"""

from __future__ import annotations

import bisect
import threading
import time
import uuid as _uuid
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

import os

import json

from fstore_sql_spark import errors
from fstore_sql_spark.hwm import _HWM_COLS, ShardedHwm
from fstore_sql_spark.ledger import ProcessLock, ShardedLocksLedger
from fstore_sql_spark.functions.typed_payload import (
    as_struct_type,
    is_widening,
    typed_payload_column,
    validate_evolution,
)
from fstore_sql_spark.schemas import (
    DECIDERS_SCHEMA,
    EVENTS_SCHEMA,
    PAYLOAD_SCHEMAS_SCHEMA,
    VIEWS_SCHEMA,
)
from fstore_sql_spark.storage import LogFile, Manifest, ParquetStore

_EVENTS = "events"
_DECIDERS = "deciders"
_VIEWS = "views"
_LOCKS = "locks"
_PAYLOAD = "payload_schemas"

# Default unlock instant: NOW() - 1ms (/root/reference/schema.sql:190-191).
_UNLOCK_DELTA = timedelta(milliseconds=1)

# An append's candidate rows: the client's columns plus the intra-batch
# order ``seq``.  The index path handles them as tuples in this order.
_CANDIDATE_FIELDS = [
    ("event", "string"), ("event_id", "string"), ("event_version", "long"),
    ("decider", "string"), ("decider_id", "string"), ("data", "string"),
    ("command_id", "string"), ("previous_id", "string"), ("final", "boolean"),
    ("seq", "long"),
]
_CANDIDATE_COLS = [c for c, _ in _CANDIDATE_FIELDS]
_CANDIDATE_DDL = ", ".join(f"{c} {t}" for c, t in _CANDIDATE_FIELDS)
# The index path's batch as Arrow, in the physical schema Spark writes the
# log with: every column nullable but the two per-commit literals.
_LOG_ARROW = pa.schema([
    f.with_nullable(f.name not in ("created_at", "transaction_id"))
    for f in to_arrow_schema(EVENTS_SCHEMA, timestamp_utc=False)
])
_EVENT, _EID, _VER, _DEC, _DID, _DATA, _CMD, _PID, _FINAL, _SEQ = range(10)
# columns whose nulls the index path leaves to the set path (every one
# EVENTS_SCHEMA declares non-nullable, so its RETURNING rows conform)
_REQUIRED_IDX = (_EVENT, _EID, _VER, _DEC, _DID, _DATA, _CMD, _FINAL, _SEQ)


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class EventStore:
    """A PySpark-native event store rooted at ``path``.

    One instance is the single committer for its path (SURVEY.md §7.3/§7.5);
    reads are safe from anywhere.
    """

    # Delivery read-ahead (see stream_events): one refill read fetches
    # the next PREFETCH_DEPTH unread events of up to PREFETCH_PARTITIONS of
    # a view's partitions, and later claims of those partitions are served
    # driver-side.  A refill replaces its view's window and, once the
    # windows hold more than PREFETCH_PARTITIONS * PREFETCH_DEPTH rows,
    # drops every other view's, so the cache stays within that bound
    # (unless one claim alone misses on more than PREFETCH_PARTITIONS
    # partitions: its rows are all kept).
    PREFETCH_DEPTH = 64
    PREFETCH_PARTITIONS = 2000

    # Point reads — get_events, get_last_event, C1's event_id probe, the
    # read-ahead refill and stats() — are answered on the driver with
    # pyarrow (``_point_read_files``) when the log files they pick hold
    # at most this many rows, and by their Spark plan above it.  On a
    # 4-vCPU local[4] driver with unpruned bulk-loaded files, the driver
    # read was 3x faster than the Spark plan at 1M rows (a replay 156 vs
    # 500 ms) and level with it at 3M.
    POINT_READ_MAX_ROWS = 1_000_000

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        expected_partitions: int | None = None,
        expected_consumers: int | None = None,
    ):
        """``expected_partitions`` and ``expected_consumers`` are sizing
        hints, read only when this open CREATES the store: the consumer
        state is laid out with ``max(shards_for(expected_partitions),
        shards_for_consumers(expected_consumers))`` shards
        (``ShardedLocksLedger``; the tick-latency and consumer-scaling
        rules of BASELINE.md).  An existing store keeps the shard count
        its on-disk marker pins; grow it with ``tools/resize_shards.py``
        (the ledger logs a p95-tick warning when that becomes due).

        Driver residency follows that layout: a store of more than
        ``ShardedLocksLedger.MAX_RESIDENT_SHARDS`` shards pages its
        consumer state and watermark shard frames (LRU) within that
        budget; a smaller one keeps every shard resident."""
        self.spark = spark
        self.storage = ParquetStore(spark, path)
        self._commit_lock = threading.RLock()
        # table or "log_relation" -> (version, lazy DataFrame): see _handle
        self._handles: dict[str, tuple[object, DataFrame]] = {}
        # view -> its read-ahead window (see _refill_prefetch): (rows,
        # their offsets, decider_id -> (start, stop, fetch-time lo))
        self._prefetch: dict[str, tuple] = {}
        # read-ahead observability: the cache is load-bearing for
        # delivery perf, so hit/miss/refill are counted and surfaced via
        # stats() — a warm set that misses the claim order shows as a
        # collapsed hit rate instead of just slow rounds.
        self.prefetch_counters = {"hits": 0, "misses": 0, "refills": 0}
        # per-phase wall times of the most recent append_batch:
        # candidates/validate/t6/commit
        self.last_append_profile: dict[str, float] = {}
        # which validation path each append_batch call took
        self.append_paths = {"index": 0, "set": 0}
        self.storage.init_log(_EVENTS, EVENTS_SCHEMA)
        self.storage.init_state(_DECIDERS, DECIDERS_SCHEMA)
        self.storage.init_state(_VIEWS, VIEWS_SCHEMA)
        self.storage.init_state(_PAYLOAD, PAYLOAD_SCHEMAS_SCHEMA)
        # Consumer-state authority: in-memory + pyarrow-flushed snapshots +
        # per-shard cross-process lease locks (the row-lock-granularity
        # SKIP LOCKED analogue) — see ledger.py module doc.  Sharded by
        # hash(decider_id) so concurrent consumer processes claiming
        # different partitions don't serialize on one mutex; mutations
        # self-guard and never run Spark jobs.
        self.ledger = ShardedLocksLedger(
            self.storage,
            _LOCKS,
            expected_partitions=expected_partitions,
            expected_consumers=expected_consumers,
        )
        # Cross-process single-committer enforcement: the
        # reference gets multi-connection producer safety from
        # ``previous_id UNIQUE`` + row locks (/root/reference/schema.sql:44,
        # tests/integration/concurrency/test_concurrent_producers.sql); here
        # every events-log mutation (append, compaction) holds this flock so
        # two producer PROCESSES serialize instead of racing the manifest's
        # last-writer-wins os.replace.  Held across validation too, so the
        # second writer's §2.3 checks see the first writer's committed
        # events (the row-lock-wait analogue).  Crash recovery is the
        # kernel's: flock drops when the holder dies.
        self._committer = ProcessLock(
            os.path.join(self.storage.root, f"{_EVENTS}_COMMITTER.lock")
        )
        self._committer_depth = threading.local()
        # Sharded + paged per-partition high-watermark: same crc32 shard
        # routing and LRU budget as the ledger, so
        # a paged store's TOTAL driver residency — consumer state AND
        # watermark — is O(active shards).  See hwm.py module doc.
        self._hwm_shards = ShardedHwm(
            self.storage,
            spark,
            self.ledger.n_shards,
            self.events,
            max_resident=self.ledger.max_resident,
        )
        # generation before marker: see _refresh_external
        self._seen_log_gen = self.storage._log_gen(_EVENTS)
        self._seen_commit_id = self.storage.read_published(_EVENTS)
        self._sql_view_prefixes: set[str] = set()

    # ------------------------------------------------------------------ #
    # table accessors
    # ------------------------------------------------------------------ #

    def events(self) -> DataFrame:
        """The append-only event log (/root/reference/schema.sql:27-54).

        A lazy, unpersisted DataFrame: every action scans parquet with its
        own filters pushed into the scan (a replay's ``decider_id``, a
        refill's ``offset`` floor), and no commit pays to re-materialise
        the whole log.  The log relation, which holds the file listing, is
        read once per generation and re-listed in place on each commit
        (``_see_log``), so every plan built on it in this generation — a
        typed view, a held replay — reads all later commits up to its
        first action.  What this returns is a DataFrame over that
        relation memoised per ``(published commit, generation)``: a Spark
        DataFrame fixes its physical plan, listing included, at its first
        action, so one object handed out across commits would freeze
        ``events().collect()``.  Every read first runs
        ``_refresh_external``: a SIBLING process's commit or compaction
        moves the version.  The version keys on the post-append
        ``_PUBLISHED`` marker, never on the pre-append allocation
        manifest, so no listing is taken mid-append.  Under the commit
        lock so a concurrent mutator can't race the version swap."""
        with self._commit_lock:
            self._refresh_external()
            gen = self._seen_log_gen
            log = self._handle(
                "log_relation",
                gen,
                lambda: self.storage.read_log(_EVENTS, EVENTS_SCHEMA),
            )
            return self._handle(
                _EVENTS, (self._seen_commit_id, gen), lambda: log.select("*")
            )

    def _handle(self, key: str, version, read):
        """The memoised lazy handle under ``key`` at ``version``: ``read()``
        builds a new one only when the version moved since the last call.
        Nothing is persisted, so a replaced handle needs no cleanup.  Also
        memoises small driver-side values derived from a table version
        (``_registered_events``, ``_view_names``)."""
        memo = self._handles.get(key)
        if memo is None or memo[0] != version:
            memo = self._handles[key] = (version, read())
        return memo[1]

    def _point_read_files(self, keep=None) -> "list[LogFile] | None":
        """The point reader's files: the visible log files that ``keep``
        picks by their footer ranges, or None when they hold more than
        ``POINT_READ_MAX_ROWS`` rows (or a footer is unreadable), and the
        caller runs its Spark plan instead.

        The visible files are listed once per (seen commit, generation):
        the ``*.parquet`` files directly under the seen generation, less
        those whose ``transaction_id`` starts above the seen commit — an
        append in flight, or a crashed one not yet recovered
        (``_refresh_external`` rules out a file straddling the commit).
        That is the published-marker rule ``events()`` keeps, so a point
        read returns the rows committed as of the call."""
        with self._commit_lock:
            self._refresh_external()
            commit, gen = self._seen_commit_id, self._seen_log_gen

            def listing():
                files, torn = self.storage.log_files(_EVENTS, gen)
                return None if torn else [f for f in files if f.txn[0] <= commit]

            files = self._handle("log_files", (commit, gen), listing)
        if files is None:
            return None
        if keep is not None:
            files = [f for f in files if keep(f)]
        if sum(f.rows for f in files) > self.POINT_READ_MAX_ROWS:
            return None
        return files

    def _read_files(self, files: "list[LogFile]", where, columns=None) -> pa.Table:
        return self.storage.read_log_files(files, EVENTS_SCHEMA, columns, where)

    def _local_events(self, table: pa.Table) -> DataFrame:
        """Event rows read on the driver as a DataFrame: an Arrow table
        makes a LocalRelation (an empty one too, where an empty pandas
        frame would not), so collecting it runs no Spark job."""
        return self.spark.createDataFrame(table, schema=EVENTS_SCHEMA)

    def _committed_log(self) -> DataFrame:
        """``events()`` as of this call: the Spark plan a point read falls
        back to, with the point reader's visibility rule."""
        ev = self.events()
        return ev.filter(F.col("transaction_id") <= F.lit(self._seen_commit_id))

    def _see_log(self, commit: int, gen: int) -> None:
        """Move this store's log view to (``commit``, ``gen``).  Within
        one generation the log relation is re-listed in place, so plans
        already built on it read this commit too; a new generation
        (compaction) makes the next ``events()`` read a new relation.
        Read-ahead windows are dropped: a new commit may extend a window
        marked complete.  Temp views are re-pointed at the new handle."""
        memo = self._handles.get("log_relation")
        if memo is not None and memo[0] == gen:
            self.storage.relist_log(memo[1])
        self._prefetch.clear()
        self._seen_commit_id = commit
        self._seen_log_gen = gen
        self._rebind_sql_views()

    def _hwm_view(self) -> ShardedHwm:
        """The sharded watermark, synced to the same published commit
        ``events()`` reads — what the claim path reads per shard, and the
        full-table surfaces (``locks()``, T7) read via ``.full()``.
        Derived (never dual-written): one Spark rebuild on first need (or
        after an unmaintained external commit), then folded incrementally
        from each committed batch's own aggregate (``_commit``), so steady
        ingest+deliver never re-aggregates the log.  Not reset by
        ``_see_log``: it is keyed on the published commit id, so a
        compaction (same commits, new layout) keeps it."""
        self._hwm_shards.sync(self._seen_commit_id)
        return self._hwm_shards

    def _hwm_pandas(self) -> pd.DataFrame:
        """Whole-watermark frame (index decider_id; columns offset,
        offset_final) — kept for the full-table read surfaces; per-shard
        consumers use ``_hwm_view().for_shard(k)`` instead (paging)."""
        return self._hwm_view().full()

    def _refresh_external(self) -> None:
        """Cross-process read freshness: if ANOTHER committer PUBLISHED a
        commit since our log view was taken, move the view so reads and
        claims see the new events.  Keys on the post-append published
        marker, not the pre-append allocation manifest: a sibling
        mid-append (manifest advanced, log files still landing) must NOT
        move the view — that would list a partial batch and mark it
        fresh, stalling or (worse) skipping events.  One tiny file read
        per call.

        The generation pointer is read BEFORE the marker.  A compaction
        rewrites only published commits and flips the pointer after, so
        every commit in the generation read is at or below the marker
        read next: a log file either lies wholly at or below the seen
        commit or wholly above it (an append in flight).  The point
        reader's visibility rule (``_point_read_files``) rests on this."""
        # the generation pointer catches a sibling's COMPACTION, which
        # rewrites the log layout without minting a commit id — a reader
        # keyed on the commit alone kept a plan over the old generation
        # until its GC turned reads into FileNotFoundError
        gen = self.storage._log_gen(_EVENTS)
        commit = self.storage.read_published(_EVENTS)
        # Orphaned-commit roll-forward for PURE READERS: if every
        # writer died between manifest advance and marker publish, the
        # marker only moves again at the next committer-guard acquisition
        # — which a read-only process never performs, leaving a complete
        # on-disk batch invisible to it forever.  published < manifest is
        # the tell; a NON-BLOCKING try_acquire disambiguates the two
        # causes: acquired ⇒ no live committer exists (flock died with
        # it) ⇒ roll the marker forward exactly as _committer_guard
        # would; busy ⇒ a live committer is mid-append ⇒ normal, skip.
        # Cost on the hot read path: one extra tiny file read, and the
        # flock attempt only in the (rare) lag window.
        if commit < self.storage.read_manifest(_EVENTS).commit_id and not getattr(
            self._committer_depth, "n", 0
        ):
            if self._committer.try_acquire():
                self._committer_depth.n = 1
                try:
                    self._recover_unpublished()
                finally:
                    self._committer_depth.n = 0
                    self._committer.release()
                commit = self.storage.read_published(_EVENTS)
        if commit != self._seen_commit_id or gen != self._seen_log_gen:
            self._see_log(commit, gen)

    def deciders(self) -> DataFrame:
        """The event-type registry.  C3 validation reads it on every
        append; like ``events()`` it is a lazy handle, memoised per
        snapshot version (``_state``)."""
        return self._state(_DECIDERS, DECIDERS_SCHEMA)

    def views(self) -> DataFrame:
        return self._state(_VIEWS, VIEWS_SCHEMA)

    def _state(self, table: str, schema) -> DataFrame:
        """A registry table's memoised lazy handle, keyed on its
        ``_LATEST`` snapshot version: a registration committed by ANOTHER
        process flips the pointer, so C3 sees the sibling's event types
        on the next read.  Cost: one tiny pointer-file read per call.
        (The locks table is the ledger's, not read through here.)  A new
        snapshot, own or a sibling's, also re-points the temp views: the
        writer's GC deletes old snapshots, so a view left on one would
        fail."""
        memo = self._handles.get(table)
        df = self._handle(
            table,
            self.storage.state_version(table),
            lambda: self.storage.read_state(table, schema),
        )
        if memo is not None and memo[1] is not df:
            self._rebind_sql_views()
        return df

    def locks(self) -> DataFrame:
        """Reference-shaped ``locks`` rows (/root/reference/schema.sql:180-200).

        Persisted consumer state joined with high-watermarks derived from the
        log: ``offset`` = partition max offset, ``offset_final`` = final flag
        of the partition's last event — exactly what trigger T6 maintains
        eagerly in the reference (/root/reference/schema.sql:240-263), but
        computed instead of dual-written (SURVEY.md §7.5).

        .. warning:: The RESULT is full-table by contract — O(#partitions
           × #views) rows materialized on the DRIVER at the moment of the
           merge, even on a paged store (resident shard frames still
           respect the budget during the walk; the concatenated result
           does not).  On a 10⁸-partition store that is a multi-GB frame:
           operational tooling at that scale should use ``locks_iter()``
           (one shard-sized frame at a time) instead.
        """
        # Per-partition high-watermark: max offset + final flag of last event.
        # max_by == DISTINCT ON (decider_id) ... ORDER BY offset DESC
        # (/root/reference/schema.sql:290-294).  Both sides are
        # driver-resident (ledger + hwm frame), so the reference-shaped
        # join is a pandas merge — no Spark job to expose the table.
        # under the commit lock: the read rebinds shard frames, which
        # must not race an in-flight mutator thread (claim/ack/T6);
        # to_pandas itself refreshes each shard (sibling freshness) and
        # re-enforces the paging budget when it returns
        with self._commit_lock:
            self._refresh_external()
            state = self.ledger.to_pandas()
            hwm = self._hwm_pandas().reset_index()
        return self._locks_frame(state.merge(hwm, on="decider_id", how="inner"))

    _LOCKS_VIEW_SCHEMA = (
        "view string, decider_id string, offset long, last_offset long, "
        "locked_until timestamp, offset_final boolean, "
        "created_at timestamp, updated_at timestamp"
    )
    _LOCKS_COLS = [c.split()[0] for c in _LOCKS_VIEW_SCHEMA.split(", ")]

    def _locks_frame(self, merged: pd.DataFrame) -> DataFrame:
        """Reference-shaped lock rows from a ledger ⋈ hwm pandas merge."""
        merged = merged[self._LOCKS_COLS]
        if merged.empty:
            return self.spark.createDataFrame([], self._LOCKS_VIEW_SCHEMA)
        return self.spark.createDataFrame(merged, schema=self._LOCKS_VIEW_SCHEMA)

    def locks_iter(self):
        """Shard-batched variant of ``locks()`` for operational tooling on
        huge-partition stores: yields one
        reference-shaped PANDAS frame per consumer-state shard, so peak
        driver residency is one shard (~TARGET_ROWS_PER_SHARD rows under
        the sizing rule), never the whole table.  Rows across all yielded
        frames equal ``locks()``; within a frame, ordering is the shard's
        (sorted by key).  Each shard is read under the commit lock (same
        freshness discipline as ``locks()``); the iterator itself holds
        no lock between yields, so a concurrent mutator may advance later
        shards — the same read-skew any shard-at-a-time scan of live
        consumer state has."""
        with self._commit_lock:
            self._refresh_external()
            n = self.ledger.n_shards
        for k in range(n):
            with self._commit_lock:
                state = self.ledger.shard_frame(k)
                hwm_k = self._hwm_view().for_shard(k).reset_index()
            merged = state.merge(hwm_k, on="decider_id", how="inner")
            if len(merged):
                yield merged[self._LOCKS_COLS]

    def compact(self, target_partitions: int | None = None) -> int:
        """OPTIMIZE analogue: rewrite the event log clustered by
        ``decider_id`` and sorted by (decider_id, offset) within files, so
        parquet min/max stats prune stream replays like the reference's
        ``decider_index`` B-tree (/root/reference/schema.sql:56).  Run
        periodically after many small appends (each append batch writes its
        own files).  Returns the new file count.

        Readers are snapshot-safe (generation-pointer flip); concurrent
        APPENDS must be quiesced — the commit lock enforces that in-process
        and the cross-process committer flock across processes.
        """
        with self._commit_lock, self._committer_guard():
            events = self.events()
            if target_partitions is None:
                n = events.count()
                target_partitions = max(1, n // 2_000_000)
            compacted = events.repartition(target_partitions, "decider_id").sortWithinPartitions(
                "decider_id", "offset"
            )
            self.storage.compact_log(_EVENTS, compacted)
            # record the new generation now, so the next read builds one
            # handle instead of first tripping _refresh_external
            self._see_log(self._seen_commit_id, self.storage._log_gen(_EVENTS))
            return self.storage.log_file_count(_EVENTS)

    def maybe_compact(
        self, max_files: int = 64, target_partitions: int | None = None
    ) -> int | None:
        """Opportunistic OPTIMIZE: compact the event log only when its
        current-generation file count exceeds ``max_files`` (each append
        batch writes its own files, so continuous small appends fragment
        the log and slow scans).  Returns the new file count, or None when
        skipped.  Synchronous full rewrite — call between batches from an
        ingest loop (the auto-compaction analogue) or from a maintenance
        window; readers stay snapshot-safe via the generation pointer."""
        if self.storage.log_file_count(_EVENTS) <= max_files:
            return None
        return self.compact(target_partitions)

    def register_sql_views(self, prefix: str = "") -> None:
        """Expose all four tables as temp views so ``spark.sql`` works over
        the store (SURVEY.md §7.1 step 7).

        Temp views freeze the DataFrame they were created from; a view
        bound once would keep serving an old registry snapshot and old
        locks (and break after a compaction GC'd its log generation, or a
        registration GC'd its snapshot).  The prefix is therefore
        remembered and the views re-bound whenever a commit, compaction
        or registration gives any table a new version."""
        self._sql_view_prefixes.add(prefix)
        self._rebind_sql_views()

    def _rebind_sql_views(self) -> None:
        for prefix in self._sql_view_prefixes:
            self.events().createOrReplaceTempView(f"{prefix}events")
            self.deciders().createOrReplaceTempView(f"{prefix}deciders")
            self.views().createOrReplaceTempView(f"{prefix}views")
            self.locks().createOrReplaceTempView(f"{prefix}locks")

    # ------------------------------------------------------------------ #
    # A1 register_decider_event  (/root/reference/schema.sql:325-332)
    # ------------------------------------------------------------------ #

    def register_decider_event(
        self,
        decider: str,
        event: str,
        description: str,
        event_version: int = 1,
    ) -> DataFrame:
        """INSERT into deciders RETURNING; duplicate PK ⇒ error (C4),
        decided from C3's registry memo.  No Spark job: the registry
        snapshot, a few rows, is read and rewritten with pyarrow.

        Under the committer flock: the write is a read-modify-write of
        the whole snapshot, so two registering PROCESSES would otherwise
        lose one row (last-writer-wins)."""
        with self._commit_lock, self._committer_guard():
            if (decider, event, int(event_version)) in self._registered_events():
                raise errors.DuplicateRegistrationError(decider, event, event_version)
            values = (decider, event, int(event_version), description)
            new = pd.DataFrame([values], columns=DECIDERS_SCHEMA.fieldNames())
            existing = self.storage.read_state_pandas(_DECIDERS)
            self.storage.write_state_pandas(
                _DECIDERS, pd.concat([existing, new], ignore_index=True)
            )
            self.deciders()  # take up the new snapshot now (re-binds views)
            return self.spark.createDataFrame([values], DECIDERS_SCHEMA)

    # ------------------------------------------------------------------ #
    # Versioned payload schemas + typed view (engine extension,
    # SURVEY.md §1.3 schema-on-read)
    # ------------------------------------------------------------------ #

    def payload_schemas(self) -> DataFrame:
        """The (event, event_version) → payload StructType registry."""
        return self._state(_PAYLOAD, PAYLOAD_SCHEMAS_SCHEMA)

    def register_payload_schema(
        self,
        event: str,
        event_version: int,
        schema,
        renamed_from: "dict[str, str] | None" = None,
    ) -> DataFrame:
        """Register the payload StructType (or DDL string) for one
        (event, event_version).  Immutable once registered — evolution is
        a NEW version, never a rewrite (the R1/R2 discipline applied to
        schemas); ``events_typed`` upcasts older versions at read time.

        ``renamed_from`` maps new field name → the
        PREVIOUS version's name for fields this version renames; the
        typed view then routes old rows' values into the new name.
        Nested fields address by DOTTED PATH (``{"meta.k_id":
        "meta.k"}``); a renamed struct re-roots its nested paths, and a
        rename may not cross struct boundaries.  Evolution against the
        previous registered version is validated recursively: only
        additions, explicit renames, and numeric widening (at any depth)
        pass (``SchemaEvolutionError`` otherwise) — so every historical
        row upcasts losslessly.  Versions must register in INCREASING
        order: inserting a middle version would retroactively
        rewire higher versions' rename walks."""
        st = as_struct_type(schema)
        ddl = ",".join(f"{f.name} {f.dataType.simpleString()}" for f in st.fields)
        with self._commit_lock, self._committer_guard():
            now = _utcnow()
            existing = self.payload_schemas()
            reg = existing.filter(F.col("event") == event).collect()
            if any(int(r["event_version"]) == int(event_version) for r in reg):
                raise errors.DuplicateSchemaError(event, event_version)
            prior = [r for r in reg if int(r["event_version"]) < int(event_version)]
            if len(prior) < len(reg):
                # Out-of-order registration (v3 then v2) would
                # validate v2 only against v1 — never v3-against-v2 — and
                # a middle version's renames would retroactively change
                # the rename walk of already-registered higher versions,
                # silently breaking their typed views.  Versions must
                # register in increasing order.
                newest = max(int(r["event_version"]) for r in reg)
                raise errors.SchemaEvolutionError(
                    event,
                    event_version,
                    [
                        f"version {int(event_version)} is below the highest "
                        f"registered version {newest}: payload schema "
                        "versions must be registered in increasing order"
                    ],
                )
            if prior:
                prev = max(prior, key=lambda r: int(r["event_version"]))
                problems = validate_evolution(
                    as_struct_type(prev["ddl"]), st, renamed_from
                )
                if problems:
                    raise errors.SchemaEvolutionError(event, event_version, problems)
            elif renamed_from:
                raise errors.SchemaEvolutionError(
                    event,
                    event_version,
                    ["renamed_from given but no previous version is registered"],
                )
            row = self.spark.createDataFrame(
                [
                    (
                        event,
                        int(event_version),
                        ddl,
                        json.dumps(renamed_from) if renamed_from else None,
                        now,
                    )
                ],
                PAYLOAD_SCHEMAS_SCHEMA,
            )
            self.storage.write_state(_PAYLOAD, existing.unionByName(row))
            return row

    def _payload_registry(self, event: str):
        """(schemas, renames) maps for one event from the registry rows —
        raises when the event has no registered schema at all."""
        reg = self.payload_schemas().filter(F.col("event") == event).collect()
        if not reg:
            raise errors.UnregisteredSchemaError(event)
        schemas = {int(r["event_version"]): r["ddl"] for r in reg}
        renames = {
            int(r["event_version"]): json.loads(r["renames"])
            for r in reg
            if r["renames"]
        }
        return schemas, renames

    def events_typed(self, event: str) -> DataFrame:
        """Schema-on-read typed view of one event type: every row's
        ``data`` JSON parsed with ITS version's registered schema and
        upcast to the latest version's shape in a ``payload`` struct
        column (missing fields → typed NULLs; renamed fields routed via
        the registry's ``renamed_from`` maps; numeric widenings cast).
        Raises ``UnregisteredSchemaError`` when the log holds a version
        with no registered schema — a silent NULL payload would
        masquerade as a parse failure.

        SNAPSHOT SEMANTICS: the view captures the registry
        AND the pre-validated version set at CONSTRUCTION time.  Rows of
        an unregistered version appended after construction fail loudly
        at evaluation (``raise_error`` in the dispatch CASE) rather than
        flowing through as NULL payloads — rebuild the view after
        registering the new version.

        Cost: the version check is one distinct over the (tiny)
        version column of the filtered scan; the typed projection itself
        is from_json + CASE — pure codegen, no shuffle, 100 TB-clean."""
        schemas, renames = self._payload_registry(event)
        ev = self.events().filter(F.col("event") == event)
        present = [
            int(r["event_version"])
            for r in ev.select("event_version").distinct().collect()
        ]
        for v in present:
            if v not in schemas:
                raise errors.UnregisteredSchemaError(event, v)
        return ev.withColumn(
            "payload",
            typed_payload_column(
                F.col("data"),
                F.col("event_version"),
                schemas,
                renames=renames,
                unmatched="error",
            ),
        )

    def events_typed_many(self, events: "list[str]") -> DataFrame:
        """Multi-event typed view: the UNION of several
        event types' typed views under ONE merged payload shape — the
        union of every requested event's latest-version fields, with
        same-named fields across events required to agree up to numeric
        widening (the widest type wins; anything else raises
        ``SchemaEvolutionError`` — a cross-event name collision with
        incompatible types has no lossless merged shape).

        One scan, one projection: the dispatch is a single CASE over
        (event, event_version) pairs — not one sub-DataFrame per event —
        so the plan stays a codegen filter+project at any log size.
        Same snapshot semantics and loud-unmatched contract as
        ``events_typed``."""
        if not events:
            raise ValueError("events_typed_many needs at least one event type")
        per_event: dict[str, tuple] = {}
        merged_fields: dict[str, "tuple[str, object]"] = {}  # name -> (event, type)
        problems: list[str] = []
        for e in events:
            schemas, renames = self._payload_registry(e)
            per_event[e] = (schemas, renames)
            latest = as_struct_type(schemas[max(schemas)])
            for f in latest.fields:
                if f.name not in merged_fields:
                    merged_fields[f.name] = (e, f.dataType)
                else:
                    other_event, other = merged_fields[f.name]
                    if is_widening(other, f.dataType):
                        merged_fields[f.name] = (e, f.dataType)
                    elif not is_widening(f.dataType, other):
                        problems.append(
                            f"field {f.name!r}: {other.simpleString()} "
                            f"({other_event!r}) vs {f.dataType.simpleString()} "
                            f"({e!r}) have no common widening"
                        )
        if problems:
            raise errors.SchemaEvolutionError(events[0], -1, problems)
        from pyspark.sql.types import StructField, StructType

        target = StructType(
            [StructField(n, t, True) for n, (_, t) in merged_fields.items()]
        )
        ev = self.events().filter(F.col("event").isin(list(events)))
        present = [
            (r["event"], int(r["event_version"]))
            for r in ev.select("event", "event_version").distinct().collect()
        ]
        for e, v in present:
            if v not in per_event[e][0]:
                raise errors.UnregisteredSchemaError(e, v)
        # one CASE keyed on event: each arm is that event's own
        # version-dispatch column upcast to the merged target shape
        expr = None
        for e, (schemas, renames) in per_event.items():
            branch = typed_payload_column(
                F.col("data"),
                F.col("event_version"),
                schemas,
                renames=renames,
                target_schema=target,
                unmatched="error",
            )
            cond = F.col("event") == F.lit(e)
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
        return ev.withColumn("payload", expr)

    # ------------------------------------------------------------------ #
    # A2 append_event  (/root/reference/schema.sql:336-343 + §2.3 triggers)
    # ------------------------------------------------------------------ #

    def append_event(
        self,
        event: str,
        event_id: str,
        decider: str,
        decider_id: str,
        data: str = "{}",
        command_id: str | None = None,
        previous_id: str | None = None,
        event_version: int = 1,
        final: bool = False,
    ) -> DataFrame:
        """Append one event, running every §2.3 invariant.  Returns the
        inserted row (RETURNING * analogue) including assigned offset.

        ``final`` is an engine extension: the reference's ``append_event``
        cannot set the flag (its tests INSERT finals directly); exposing it
        keeps the column reachable through the API.
        """
        return self.append_batch(
            [
                {
                    "event": event,
                    "event_id": event_id,
                    "event_version": int(event_version),
                    "decider": decider,
                    "decider_id": decider_id,
                    "data": data,
                    "command_id": command_id or str(_uuid.uuid4()),
                    "previous_id": previous_id,
                    "final": bool(final),
                }
            ]
        )

    def append_batch(
        self, rows_or_df, validate: bool = True, on_conflict: str = "error"
    ) -> DataFrame:
        """Append a batch of events in client order (the micro-batch write
        path, SURVEY.md §3.1 'Spark design').

        Accepts a list of dicts or a DataFrame with columns
        (event, event_id, event_version, decider, decider_id, data,
        command_id, previous_id, final) and an optional ``seq`` long column
        giving intra-batch order.  List input defaults to list order; a
        DataFrame WITHOUT ``seq`` has no defined row order (Spark
        semantics), so the engine assigns DETERMINISTIC HASH ORDER
        (``xxhash64(event_id)`` — stable across task retries).  Callers
        appending intra-batch previous_id CHAINS from a DataFrame must
        supply ``seq`` explicitly.

        Validation program: T1 stream-finalized, T2
        first-event-null-previous, T3 previous-id-in-same-decider, C1
        event_id unique, C2 previous_id unique (the optimistic lock), C3
        registry FK — raised in that order.  Two paths run it:

        - **Index path** (``_append_indexed``), for a batch of at most
          ``INDEX_PATH_MAX_ROWS`` rows: T1–T3, C2 and T6's new streams are
          read from the stream-tail index (``ShardedHwm``, one row per
          ``decider_id``: max offset, its final flag, decider and
          event_id), C3 from the registry as a Python set, and C1 is one
          probe of the log's ``event_id`` column (``_logged_event_ids``,
          a driver-side read within the point-read budget).  Offsets, the
          watermark fold and the commit columns are computed on the
          driver, which also writes the batch as one parquet file
          (``ParquetStore.write_log_table``): the append and its
          RETURNING frame run no Spark job.  The index decides a row only
          when its
          ``decider_id`` is absent from the index (a new stream), its
          ``previous_id`` is the indexed tail of the same decider, or its
          ``previous_id`` is an earlier-``seq`` row of the same stream in
          the batch.  A tail has no successor, so C2 holds there.
        - **Set path**, for everything else: larger batches, and any small
          batch with a row the index cannot decide (a stale or forked
          ``previous_id``, a ``decider_id`` shared by two deciders), an
          intra-batch duplicate ``event_id`` or ``previous_id``, or a null
          key column.  It validates with semi/anti joins against the log
          snapshot plus window functions for the intra-batch chains
          (``_validate_batch``) and numbers offsets with a window.

        Both paths raise the same error class and message for a batch,
        and commit the same rows.  ``append_paths`` counts which path each
        call took.

        ``validate=False`` skips the checks on either path.  The index
        still records those rows as stream tails, so it trusts them as it
        trusts validated rows: that no event names a stream's tail as its
        ``previous_id`` (C2 at tails), and that a ``final`` event is its
        stream's last.

        ``on_conflict="ignore"`` is the at-least-once recovery mode
        (ON CONFLICT DO NOTHING on the C1 key): candidates whose
        ``event_id`` is already in the log are dropped BEFORE validation,
        so replaying a partially-committed producer batch appends only
        the missing suffix.  Everything else still validates strictly —
        this forgives redelivery, not corruption.
        """
        if on_conflict not in ("error", "ignore"):
            raise ValueError(f"on_conflict must be 'error' or 'ignore': {on_conflict!r}")
        with self._commit_lock, self._committer_guard():
            now = _utcnow()
            prof = self.last_append_profile = {}
            _t = time.monotonic()
            rows, cand = self._small_batch(rows_or_df)
            if rows is not None:
                prof["candidates_s"] = round(time.monotonic() - _t, 3)
                appended = self._append_indexed(rows, now, validate, on_conflict)
                if appended is not None:
                    return appended
                prof.clear()
                _t = time.monotonic()
                if cand is None:
                    cand = self.spark.createDataFrame(rows, _CANDIDATE_DDL)
            self.append_paths["set"] += 1
            if on_conflict == "ignore":
                seen = self.events().select("event_id")
                cand = cand.join(seen, "event_id", "leftanti")
            cand = cand.persist()
            try:
                n = cand.count()  # materialize the cache once, up front
                prof["candidates_s"] = round(time.monotonic() - _t, 3)
                if n == 0:
                    return self.events().limit(0)
                with self._shuffle_sized_for(n):
                    _t = time.monotonic()
                    if validate:
                        self._validate_batch(cand)
                    prof["validate_s"] = round(time.monotonic() - _t, 3)
                    manifest = self.storage.read_manifest(_EVENTS)
                    # T6: lock rows for partitions born in this batch
                    # (/root/reference/schema.sql:240-263).  Runs BEFORE
                    # the log append so its anti-join against the log
                    # evaluates on the pre-batch snapshot (post-commit the
                    # re-listed log would find every candidate stream
                    # "existing").
                    # Crash-safe: a seeded lock row is invisible through
                    # the derived locks() inner-join until the partition's
                    # events actually land, and last_offset=0 is exactly
                    # what T6 would write on retry.
                    _t = time.monotonic()
                    self._t6_new_partition_locks(self._new_stream_keys(cand), now)
                    prof["t6_locks_s"] = round(time.monotonic() - _t, 3)
                    appended = self._commit(cand, manifest, now, n=n)
                return appended
            finally:
                cand.unpersist()

    # Batches of at most this many rows go through the index path
    # (append_batch).  Its cost is a Python loop over the rows, one C1
    # probe and one driver-side parquet write, with no Spark job, against
    # the set path's ~two dozen jobs; larger batches keep the set path's
    # distributed program.
    INDEX_PATH_MAX_ROWS = 1000

    def _small_batch(self, rows_or_df) -> "tuple[list | None, DataFrame | None]":
        """``(rows, cand)``: the candidate rows as tuples in
        ``_CANDIDATE_COLS`` order when the batch has at most
        ``INDEX_PATH_MAX_ROWS`` rows (else None), and the candidates
        DataFrame when one was built.  A list costs no Spark job; a
        DataFrame costs one ``limit(T + 1)`` collect."""
        if isinstance(rows_or_df, DataFrame):
            cand = self._as_candidates(rows_or_df)
            head = cand.limit(self.INDEX_PATH_MAX_ROWS + 1).collect()
            if len(head) > self.INDEX_PATH_MAX_ROWS:
                return None, cand
            return [tuple(r) for r in head], cand
        rows = self._prepare_rows(rows_or_df)
        if len(rows) > self.INDEX_PATH_MAX_ROWS:
            return None, self.spark.createDataFrame(rows, _CANDIDATE_DDL)
        return rows, None

    def _append_indexed(
        self, rows: list, now: datetime, validate: bool, on_conflict: str
    ) -> "DataFrame | None":
        """The index path of ``append_batch`` (see its docstring).
        Returns the RETURNING DataFrame, or None when the index cannot
        decide the batch; nothing has been written then, and the caller
        runs the set path.  The index is trusted only here, under the
        committer flock, after ``_refresh_external``, and only when its
        meta equals the published commit (``ShardedHwm.sync_exact``)."""
        prof = self.last_append_profile
        _t = time.monotonic()
        if any(r[i] is None for r in rows for i in _REQUIRED_IDX):
            return None
        self._refresh_external()
        if not self._hwm_shards.sync_exact(self._seen_commit_id):
            return None
        manifest = self.storage.read_manifest(_EVENTS)
        logged = None  # event ids of the batch already in the log
        if on_conflict == "ignore":
            logged = self._logged_event_ids(rows, manifest)
            rows = [r for r in rows if r[_EID] not in logged]
            if not rows:
                self.append_paths["index"] += 1
                return self.events().limit(0)
        ids = [r[_EID] for r in rows]
        pids = [r[_PID] for r in rows if r[_PID] is not None]
        if len(set(ids)) < len(ids) or len(set(pids)) < len(pids):
            return None
        tails = self._hwm_shards.lookup(sorted({r[_DID] for r in rows}))
        tails = tails.to_dict("index")
        if validate:
            broken = self._index_verdict(rows, tails)
            if broken is None:
                return None
            self.append_paths["index"] += 1
            if broken:
                raise broken
            if logged is None:
                logged = self._logged_event_ids(rows, manifest)
            dup = [e for e in ids if e in logged]
            if dup:
                raise errors.DuplicateEventIdError(max(dup))
            registered = self._registered_events()
            unknown = [
                (r[_DEC], r[_EVENT], r[_VER])
                for r in rows
                if (r[_DEC], r[_EVENT], r[_VER]) not in registered
            ]
            if unknown:
                raise errors.UnregisteredEventError(*max(unknown))
        else:
            self.append_paths["index"] += 1
        prof["validate_s"] = round(time.monotonic() - _t, 3)

        _t = time.monotonic()
        new_ids = sorted({r[_DID] for r in rows} - tails.keys())
        if new_ids:
            self._t6_new_partition_locks(new_ids, now)
        prof["t6_locks_s"] = round(time.monotonic() - _t, 3)

        _t = time.monotonic()
        n = len(rows)
        pdf = pd.DataFrame(
            sorted(rows, key=lambda r: (r[_SEQ], r[_EID])), columns=_CANDIDATE_COLS
        ).drop(columns="seq")
        pdf["offset"] = range(manifest.max_offset + 1, manifest.max_offset + n + 1)
        # rows are in offset order, so each partition's last row is its tail
        batch_hwm = (
            pdf.drop_duplicates("decider_id", keep="last")
            .rename(columns={"final": "offset_final"})[_HWM_COLS]
            .set_index("decider_id")
        )
        pdf["created_at"] = now
        pdf["transaction_id"] = manifest.commit_id + 1
        finished = pa.Table.from_pandas(
            pdf.sort_values(["decider_id", "offset"]),
            schema=_LOG_ARROW,
            preserve_index=False,
        )
        prof["offset_number_s"] = round(time.monotonic() - _t, 3)
        return self._publish(finished, manifest, n, batch_hwm)

    def _index_verdict(self, rows: list, tails: dict):
        """T1–T3 over ``rows`` from the stream tails: the error the set
        path would raise first, False when all three pass, or None when
        some row is outside what the index decides (append_batch).  Same
        flags as ``_validate_batch``: rows ranked per (decider_id,
        decider) by (seq, event_id); T1 on the stream's tail final flag
        for its first row and on the previous batch row's for the rest."""
        streams: dict[tuple[str, str], list] = {}
        for r in rows:
            streams.setdefault((r[_DID], r[_DEC]), []).append(r)
        t1 = t2 = t3 = t3_inbatch = False
        for (did, dec), stream in streams.items():
            stream.sort(key=lambda r: (r[_SEQ], r[_EID]))
            seq_of = {r[_EID]: r[_SEQ] for r in stream}
            tail = tails.get(did)
            if tail is not None and tail["decider"] != dec:
                return None  # a decider_id shared by two deciders
            tail_id = tail["event_id"] if tail is not None else None
            prev_final = bool(tail["offset_final"]) if tail is not None else False
            for rn, r in enumerate(stream):
                t1 = t1 or prev_final
                prev_final = bool(r[_FINAL])
                pid = r[_PID]
                if pid is None:
                    t2 = t2 or rn > 0 or tail_id is not None
                    continue
                pred_seq = seq_of.get(pid)
                if (pred_seq is not None and pred_seq < r[_SEQ]) or pid == tail_id:
                    continue
                if tail_id is not None:
                    return None  # an older event of the stream, or none
                # a new stream has no logged predecessor
                t3 = True
                t3_inbatch = t3_inbatch or pred_seq is not None
        if t1:
            return errors.StreamFinalizedError()
        if t2:
            return errors.FirstEventError()
        if t3:
            return self._previous_id_error(t3_inbatch)
        return False

    def _logged_event_ids(self, rows: list, manifest: Manifest) -> set:
        """C1's probe, and the ``on_conflict="ignore"`` pre-filter: which of
        the rows' event ids are in the log.  A driver-side read of the
        ``event_id`` column within the point-read budget, else one
        pushed-down Spark scan of it; nothing on an empty log.  Random
        ids defeat min/max pruning, so either way it reads the column of
        every file: C1 is the index path's cost that grows with the log."""
        if manifest.max_offset == 0:
            return set()
        ids = [r[_EID] for r in rows]
        files = self._point_read_files()
        if files is not None:
            hits = self._read_files(files, pc.field("event_id").isin(ids), ["event_id"])
            return set(hits.column(0).to_pylist())
        hits = self._committed_log().filter(F.col("event_id").isin(ids))
        return {r[0] for r in hits.select("event_id").collect()}

    def _registered_events(self) -> set:
        """C3's registry as a set of (decider, event, event_version),
        read with pyarrow and memoised per snapshot version."""

        def read():
            pdf = self.storage.read_state_pandas(_DECIDERS)
            if pdf.empty:
                return set()
            return set(
                zip(pdf["decider"], pdf["event"], pdf["event_version"].astype(int))
            )

        return self._handle(
            "registered_events", self.storage.state_version(_DECIDERS), read
        )

    def _view_names(self) -> list:
        """Registered view names, read with pyarrow and memoised per
        snapshot version — T6 seeds one lock row per view."""

        def read():
            pdf = self.storage.read_state_pandas(_VIEWS)
            return [] if pdf.empty else sorted(pdf["view"])

        return self._handle("view_names", self.storage.state_version(_VIEWS), read)

    # How long a blocked producer waits for a sibling process's append or
    # compaction to finish before raising TimeoutError.  Generous: an sf1
    # bulk append holds the lock for ~10 s; genuine deadlock is impossible
    # (single lock, no nesting across locks).
    COMMITTER_LOCK_TIMEOUT_S = 300.0

    @contextmanager
    def _committer_guard(self):
        """Hold the cross-process committer flock (reentrant per thread —
        ProcessLock itself is deliberately non-reentrant, so depth is
        tracked here).  Always taken INSIDE ``_commit_lock``, never the
        reverse, so lock order is fixed."""
        depth = getattr(self._committer_depth, "n", 0)
        if depth:
            self._committer_depth.n = depth + 1
            try:
                yield
            finally:
                self._committer_depth.n -= 1
            return
        self._committer.acquire(timeout_s=self.COMMITTER_LOCK_TIMEOUT_S)
        self._committer_depth.n = 1
        try:
            self._recover_unpublished()
            yield
        finally:
            self._committer_depth.n = 0
            self._committer.release()

    def _recover_unpublished(self) -> None:
        """Crash recovery at the committer-lock safe point: a committer
        that died between the manifest advance and the ``_PUBLISHED``
        marker write leaves ``published < manifest.commit_id``.  Holding
        the flock proves no LIVE committer is mid-append (the kernel
        released the dead holder's lock).  The manifest's ``pending_rows``
        (written with the allocation) makes recovery VERIFIED, not
        assumed — the three crash windows:

        - log append never ran → 0 of pending_rows on disk; the
          allocation is burned; publishing records only an offset gap
          (BIGSERIAL rollback-gap semantics, SURVEY.md §7.4);
        - log append completed → the batch's files (parquet footers with
          transaction_id == commit_id) sum to exactly pending_rows;
          publishing makes it visible, and a producer replay with
          ``on_conflict='ignore'`` dedups against it (the at-least-once
          recovery contract);
        - a set-path append INTERRUPTED MID-JOB-COMMIT → a strict subset
          of the batch's files is in the log dir.  Publishing that would
          break batch atomicity and intra-batch previous_id chains for
          readers, so the partial files are QUARANTINED (moved into the
          log dir's ``_quarantine/txn_<id>/`` — MOVED, never
          unlinked, so even a misconfigured flock-less mount cannot make
          this path destroy bytes unrecoverably — together with the dead
          job's ``_temporary`` staging cleared so the next job commit
          cannot resurrect them) and the allocation is burned like the
          never-ran window; the producer's replay re-appends the whole
          batch under a fresh commit.

        An index-path append has no partial window: its one file is
        written and fsync'd under ``_staging/`` and renamed in, so it is
        either absent (the never-ran window; the staged file is cleared
        with the Spark staging) or whole (the completed window).

        Power-loss-TORN parquet files (rename persisted, data pages lost
        — unreadable footers) are quarantined in every window: left in
        place they would fail all subsequent log reads.

        SAFETY CONTRACT: this path mutates the log layout and is only
        sound under the committer flock (``_committer_guard`` holds it at
        both call sites); on mounts where flock is a no-op (the
        documented ProcessLock limitation, see errors.py) a concurrent
        reader could quarantine a LIVE committer's in-flight batch —
        recoverable from ``_quarantine/`` but still an operational
        incident; such mounts are unsupported for multi-process use.
        """
        manifest = self.storage.read_manifest(_EVENTS)
        if self.storage.read_published(_EVENTS) < manifest.commit_id:
            files, landed, torn = self.storage.txn_log_files(
                _EVENTS, manifest.commit_id
            )
            if landed != manifest.pending_rows:
                self.storage.quarantine_log_files(
                    _EVENTS, manifest.commit_id, files
                )
                self.storage.clear_append_staging(_EVENTS)
            if torn:
                self.storage.quarantine_log_files(
                    _EVENTS, manifest.commit_id, torn
                )
            self.storage.write_published(_EVENTS, manifest.commit_id)
            self._see_log(manifest.commit_id, self.storage._log_gen(_EVENTS))

    # Target rows per shuffle task on the write path: micro-batches don't
    # need (and pay scheduling overhead for) the session-wide shuffle
    # width sized for full-table analytics.
    ROWS_PER_SHUFFLE_TASK = 25_000

    @contextmanager
    def _shuffle_sized_for(self, n_rows: int):
        """Clamp ``spark.sql.shuffle.partitions`` to the committed batch
        size for the duration of one append (never raising it above the
        session setting, so cluster-sized batches are untouched).  Safe
        under the single-committer rule: appends are serialized by
        ``_commit_lock``; concurrent *readers* never depend on shuffle
        width for correctness."""
        conf = self.spark.conf
        prev = conf.get("spark.sql.shuffle.partitions")
        target = max(1, min(int(prev), n_rows // self.ROWS_PER_SHUFFLE_TASK + 1))
        if target >= int(prev):
            yield
            return
        conf.set("spark.sql.shuffle.partitions", str(target))
        try:
            yield
        finally:
            conf.set("spark.sql.shuffle.partitions", prev)

    def _as_candidates(self, df: DataFrame) -> DataFrame:
        """A client DataFrame as candidate rows (``_CANDIDATE_COLS``),
        with the defaults filled in."""
        self._last_seq_was_hashed = False
        if "seq" not in df.columns:
            self._last_seq_was_hashed = True
            # A distributed DataFrame has NO defined row order, so a
            # caller omitting ``seq`` gets DETERMINISTIC HASH ORDER
            # (documented in append_batch).  xxhash64(event_id) is
            # stable across task retries — the previous
            # row_number-over-monotonically_increasing_id derivation
            # was banned by SURVEY §7.4 exactly because a retry could
            # renumber the batch — and costs zero shuffle/window
            #.  Hash ties are broken by
            # event_id in every seq ordering; a chained pair colliding
            # on the hash (2^-64) is rejected by T3 like any
            # equal-seq pair — callers appending intra-batch chains
            # supply explicit seq.
            df = df.withColumn("seq", F.xxhash64("event_id"))
        if "final" not in df.columns:
            df = df.withColumn("final", F.lit(False))
        if "event_version" not in df.columns:
            df = df.withColumn("event_version", F.lit(1).cast("long"))
        return df.select(
            "event",
            "event_id",
            F.col("event_version").cast("long").alias("event_version"),
            "decider",
            "decider_id",
            "data",
            "command_id",
            "previous_id",
            F.col("final").cast("boolean").alias("final"),
            F.col("seq").cast("long").alias("seq"),
        )

    def _prepare_rows(self, rows: list) -> list:
        """List input as candidate tuples (``_CANDIDATE_COLS`` order),
        with the defaults filled in: list order as ``seq``, a fresh
        ``command_id``."""
        self._last_seq_was_hashed = False
        return [
            (
                r["event"],
                r["event_id"],
                int(r.get("event_version", 1)),
                r["decider"],
                r["decider_id"],
                r.get("data", "{}"),
                r.get("command_id") or str(_uuid.uuid4()),
                r.get("previous_id"),
                bool(r.get("final", False)),
                int(r.get("seq", i)),
            )
            for i, r in enumerate(rows)
        ]

    def _stream_tails(self, cand: DataFrame) -> DataFrame:
        """Per existing (decider_id, decider) stream touched by the batch:
        the tail event_id, final flag and event count.  The semi join
        restricts the log scan to relevant partitions — the pushdown
        analogue of the reference's ``decider_index`` probe
        (/root/reference/schema.sql:56)."""
        keys = cand.select("decider_id", "decider").distinct()
        relevant = self.events().join(F.broadcast(keys), ["decider_id", "decider"], "leftsemi")
        return relevant.groupBy("decider_id", "decider").agg(
            F.max("offset").alias("tail_offset"),
            F.max_by("event_id", "offset").alias("tail_event_id"),
            F.max_by("final", "offset").alias("tail_final"),
            F.count(F.lit(1)).alias("n_existing"),
        )

    def _new_stream_keys(self, cand: DataFrame) -> DataFrame:
        """Partitions born in this batch, as a DataFrame — never collected
        (a 100 TB backfill batch can open millions of streams)."""
        keys = cand.select("decider_id", "decider").distinct()
        # Empty-log fast path (same manifest proof as
        # ``_validate_batch``): with no committed rows every candidate
        # stream is new — the semi+anti probe of the log is the identity.
        if self.storage.read_manifest(_EVENTS).max_offset == 0:
            return keys
        existing = (
            self.events()
            .join(F.broadcast(keys), ["decider_id", "decider"], "leftsemi")
            .select("decider_id", "decider")
            .distinct()
        )
        return keys.join(existing, ["decider_id", "decider"], "leftanti")

    def _validate_batch(self, cand: DataFrame) -> None:
        """The set path's validation: the §2.3 invariants as ONE
        annotated-candidates program.

        Every check becomes a boolean flag column on the candidate rows
        (window counts for intra-batch uniqueness, left joins against
        column-pruned event scans for global uniqueness/predecessor
        checks), folded by a single aggregate — one Spark action for the
        whole validation instead of one per rule.  Violations are raised
        in the reference's trigger firing order (alphabetical trigger
        names then constraints, SURVEY.md §3.1): T1, T2, T3, C1, C2, C3.
        """
        # EMPTY-LOG FAST PATH (a shuffle removed outright, not tuned):
        # the first bulk load into a fresh store (the 100 TB bootstrap
        # shape, and exactly bench b1) validated against FOUR probes of an
        # empty log — the tails aggregate + three existing-event scans —
        # each still costing AQE stage rounds and join planning.  The
        # manifest is already consistent under the committer flock, and
        # max_offset is monotone (append-only log, no deleting verb), so
        # ``max_offset == 0`` ⟺ the log has never committed a row; every
        # probe provably returns no matches and is replaced by its
        # no-match literal (null flag columns — bit-identical to what the
        # left joins produce).  The non-empty path is byte-unchanged.
        log_empty = self.storage.read_manifest(_EVENTS).max_offset == 0

        # event_id tiebreaker: caller-supplied seq may tie; hash-derived
        # seq (no-seq DF path) can tie on collisions.  The extra key makes
        # every rank/lag deterministic either way (C1 guarantees unique
        # event_id, so the composite order is total).
        w = Window.partitionBy("decider_id", "decider").orderBy("seq", "event_id")
        ann = cand.withColumn("rn", F.row_number().over(w)).withColumn(
            "prev_batch_final", F.lag("final").over(w)
        )
        if log_empty:
            ann = ann.withColumn(
                "tail_event_id", F.lit(None).cast("string")
            ).withColumn("tail_final", F.lit(None).cast("boolean"))
        else:
            tails = self._stream_tails(cand)
            ann = ann.join(F.broadcast(tails), ["decider_id", "decider"], "left")

        # …or earlier in the batch (event_id intra-batch unique per C1).
        earlier = cand.select(
            "decider_id",
            "decider",
            F.col("event_id").alias("previous_id"),
            F.col("seq").alias("pred_seq"),
        )
        registry = F.broadcast(
            self.deciders()
            .select("decider", "event", "event_version")
            .withColumn("registered", F.lit(True))
        )

        if log_empty:
            flagged = (
                ann.withColumn("eid_exists", F.lit(None).cast("boolean"))
                .withColumn("pid_exists", F.lit(None).cast("boolean"))
                .withColumn("pred_in_log", F.lit(None).cast("boolean"))
                .join(earlier, ["decider_id", "decider", "previous_id"], "left")
                .join(registry, ["decider", "event", "event_version"], "left")
            )
        else:
            events = self.events()
            # Existing-event probes, all column-pruned scans joined as
            # flags.  event_id / previous_id are unique in the log (C1/C2
            # invariants we maintain), so each left join matches at most
            # one row.
            ex_eid = events.select("event_id").withColumn(
                "eid_exists", F.lit(True)
            )
            ex_pid = (
                events.filter(F.col("previous_id").isNotNull())
                .select("previous_id")
                .withColumn("pid_exists", F.lit(True))
            )
            # T3: predecessor present in the same existing stream…
            ex_pred = events.select(
                "decider_id", "decider", F.col("event_id").alias("previous_id")
            ).withColumn("pred_in_log", F.lit(True))
            flagged = (
                ann.join(ex_eid, "event_id", "left")
                .join(ex_pid, "previous_id", "left")
                .join(ex_pred, ["decider_id", "decider", "previous_id"], "left")
                .join(earlier, ["decider_id", "decider", "previous_id"], "left")
                .join(registry, ["decider", "event", "event_version"], "left")
            )

        nonnull_pid = F.col("previous_id").isNotNull()
        t1_viol = F.when(
            F.col("rn") == 1, F.coalesce(F.col("tail_final"), F.lit(False))
        ).otherwise(F.coalesce(F.col("prev_batch_final"), F.lit(False)))
        t2_viol = F.col("previous_id").isNull() & (
            (F.col("rn") > 1) | F.col("tail_event_id").isNotNull()
        )
        t3_viol = nonnull_pid & ~(
            F.coalesce(F.col("pred_in_log"), F.lit(False))
            | F.coalesce(F.col("pred_seq") < F.col("seq"), F.lit(False))
        )
        c1e = F.coalesce(F.col("eid_exists"), F.lit(False))
        c2e = nonnull_pid & F.coalesce(F.col("pid_exists"), F.lit(False))
        c3 = ~F.coalesce(F.col("registered"), F.lit(False))

        # Intra-batch duplicates (C1/C2 batch halves) via count vs distinct
        # inside the same aggregate — no per-key window shuffle; the
        # offending value is looked up lazily only on the (rare) failure.
        v = flagged.agg(
            F.max(t1_viol).alias("t1"),
            F.max(t2_viol).alias("t2"),
            F.max(t3_viol).alias("t3"),
            # in-batch predecessor that hash order placed AT/AFTER its
            # successor — the tell for the no-seq scrambled-chain case
            # (raise the targeted "supply seq" error, not a bare T3)
            F.max(
                t3_viol & F.col("pred_seq").isNotNull()
            ).alias("t3_inbatch"),
            F.count("event_id").alias("n_eid"),
            F.count_distinct("event_id").alias("n_eid_distinct"),
            F.count("previous_id").alias("n_pid"),
            F.count_distinct("previous_id").alias("n_pid_distinct"),
            F.max(F.when(c1e, F.col("event_id"))).alias("c1_eid"),
            F.max(F.when(c2e, F.col("previous_id"))).alias("c2_pid"),
            F.max(
                F.when(c3, F.struct("decider", "event", "event_version"))
            ).alias("c3_row"),
        ).collect()[0]

        if v["t1"]:
            raise errors.StreamFinalizedError()
        if v["t2"]:
            raise errors.FirstEventError()
        if v["t3"]:
            raise self._previous_id_error(v["t3_inbatch"])
        if v["n_eid"] != v["n_eid_distinct"]:
            dup = (
                cand.groupBy("event_id").count().filter(F.col("count") > 1).first()
            )
            raise errors.DuplicateEventIdError(dup["event_id"])
        if v["c1_eid"] is not None:
            raise errors.DuplicateEventIdError(v["c1_eid"])
        if v["n_pid"] != v["n_pid_distinct"]:
            dup = (
                cand.filter(F.col("previous_id").isNotNull())
                .groupBy("previous_id")
                .count()
                .filter(F.col("count") > 1)
                .first()
            )
            raise errors.OptimisticLockError(dup["previous_id"])
        if v["c2_pid"] is not None:
            raise errors.OptimisticLockError(v["c2_pid"])
        if v["c3_row"] is not None:
            r = v["c3_row"]
            raise errors.UnregisteredEventError(
                r["decider"], r["event"], r["event_version"]
            )

    def _previous_id_error(self, in_batch: bool) -> errors.PreviousIdError:
        """T3's error.  When the predecessor IS in the batch but
        deterministic hash order scrambled it after its successor, the
        message tells the caller the actual fix instead of a bare T3."""
        if in_batch and getattr(self, "_last_seq_was_hashed", False):
            return errors.PreviousIdError(
                errors.PreviousIdError.MESSAGE
                + " (an intra-batch previous_id chain was appended from "
                "a DataFrame without a 'seq' column; DataFrames have no "
                "defined row order, so supply an explicit 'seq' long "
                "column giving the intended intra-batch order)"
            )
        return errors.PreviousIdError()

    def _assign_offsets(
        self, cand: DataFrame, base_offset: int
    ) -> tuple[DataFrame, DataFrame]:
        """Contiguous offsets in global ``seq`` order WITHOUT a
        single-partition sort (SURVEY.md §7.4, the BIGSERIAL analogue).

        Two-phase numbering: range-partition by ``seq`` and sort within
        each partition, so partition ids are ordered by seq range and
        ``monotonically_increasing_id`` holds (partition id << 33) + the
        row's position in its partition.  One small job collects the row
        count of each partition, the running sum of those counts gives
        each partition's base offset, and a row's offset is its
        partition's base plus its position.  Every stage is parallel — a 10⁹-row backfill batch
        numbers at full cluster width, where ``row_number() OVER (ORDER
        BY seq)`` would funnel all rows through one task.

        Returns the numbered rows and the persisted frame they read, for
        the caller to unpersist.
        """
        # MUST be materialized before it is read twice: re-executing the
        # range exchange for the counts and again for the rows lets AQE
        # coalesce the two to DIFFERENT partition counts, and the
        # positions the counts describe would not be the rows' positions.
        # The persist pins one physical partitioning that both read.
        withpos = (
            cand.repartitionByRange("seq", "event_id")
            .sortWithinPartitions("seq", "event_id")
            .withColumn("_pos", F.monotonically_increasing_id())
            .persist()
        )
        pid = F.shiftright("_pos", 33).cast("int")
        try:
            counts = dict(withpos.groupBy(pid).count().collect())
        except BaseException:
            withpos.unpersist()
            raise
        bases, next_base = [], base_offset
        for p in range(max(counts, default=0) + 1):
            bases.append(next_base)
            next_base += counts.get(p, 0)
        position = F.col("_pos").bitwiseAND(F.lit((1 << 33) - 1))
        assigned = withpos.withColumn(
            "offset",
            F.element_at(F.lit(bases).cast("array<bigint>"), pid + 1) + position + 1,
        ).drop("_pos")
        return assigned, withpos

    def _commit(
        self, cand: DataFrame, manifest: Manifest, now: datetime, n: int | None = None
    ) -> DataFrame:
        """The set path's numbering: assign offsets + commit metadata,
        then ``_publish``.  Appends are serialized through the committer
        (single-writer, SURVEY.md §7.5), so ``base_offset`` is exact and
        the result is gap-free."""
        txn = manifest.commit_id + 1
        if n is None:
            n = cand.count()
        prof = self.last_append_profile
        _t = time.monotonic()
        assigned, pinned = self._assign_offsets(cand, manifest.max_offset)
        try:
            finished = (
                assigned.withColumn("created_at", F.lit(now))
                .withColumn("transaction_id", F.lit(txn).cast("long"))
                .select([f.name for f in EVENTS_SCHEMA.fields])
            )
            # One job aggregates the numbered batch per partition: the
            # rows to fold into the sharded watermark (hwm.merge_batch),
            # so steady ingest+deliver never re-aggregates the log, and
            # the row count checked below.
            batch_hwm = (
                finished.groupBy("decider_id")
                .agg(
                    F.max("offset").alias("offset"),
                    F.max_by("final", "offset").alias("offset_final"),
                    F.max_by("decider", "offset").alias("decider"),
                    F.max_by("event_id", "offset").alias("event_id"),
                    F.count(F.lit(1)).alias("rows"),
                )
                .toPandas()
                .set_index("decider_id")
            )
            committed = int(batch_hwm.pop("rows").sum())
            if committed != n:  # not assert: must survive python -O
                raise RuntimeError(
                    f"offset assignment produced {committed} rows for a "
                    f"{n}-row batch — aborting before the manifest commits "
                    "a gap/collision"
                )
            prof["offset_number_s"] = round(time.monotonic() - _t, 3)
            return self._publish(finished, manifest, n, batch_hwm, "decider_id")
        finally:
            pinned.unpersist()

    def _publish(
        self,
        finished: "DataFrame | pa.Table",
        manifest: Manifest,
        n: int,
        batch_hwm: pd.DataFrame,
        cluster_by: str | None = None,
    ) -> DataFrame:
        """Commit ``n`` numbered rows read from manifest ``manifest``:
        allocate, append, publish, fold the watermark.  Shared by both
        append paths: the index path's rows come as an Arrow table,
        written on the driver, the set path's as a DataFrame, written by
        a Spark job.  ``batch_hwm`` is the batch's per-partition tail
        (index decider_id, the other ``_HWM_COLS`` as columns)."""
        prof = self.last_append_profile
        txn = manifest.commit_id + 1
        # Compare-and-swap gate (defense in depth under
        # the committer flock): if the on-disk manifest moved since this
        # append read it, a second committer raced us past the lock —
        # abort LOUDLY before allocating colliding offsets.  Nothing has
        # been written yet, so the batch can simply be retried.
        disk = self.storage.read_manifest(_EVENTS)
        if disk.commit_id != manifest.commit_id:
            raise errors.ConcurrentCommitError(manifest.commit_id, disk.commit_id)
        # Crash-atomicity: advance the manifest BEFORE the log append.
        # A crash between the two then yields only an offset gap (which
        # BIGSERIAL permits — rollback gaps, SURVEY.md §7.4), never
        # duplicate offsets: rows are visible in the log only after a
        # completed append (the driver writer renames its one fsync'd
        # file in from _staging; Spark's parquet committer stages task
        # files in _temporary until job commit), and the next committer
        # reads the already-advanced max_offset.  The reference gets this
        # from the Postgres transaction; manifest-first is the
        # log-shipping equivalent.
        # pending_rows rides the allocation: if we
        # die before the marker publish, recovery can verify whether
        # the batch's files landed COMPLETELY instead of assuming so.
        self.storage.write_manifest(
            _EVENTS,
            Manifest(
                max_offset=manifest.max_offset + n,
                commit_id=txn,
                pending_rows=n,
            ),
        )
        driver = isinstance(finished, pa.Table)
        _t = time.monotonic()
        if driver:
            self.storage.write_log_table(_EVENTS, finished)
        else:
            self.storage.append_log(_EVENTS, finished, cluster_by=cluster_by)
        prof["parquet_write_s"] = round(time.monotonic() - _t, 3)
        _t = time.monotonic()
        # VISIBILITY marker: written only after the append completed,
        # so sibling processes' _refresh_external never rebuilds from
        # a log missing this batch.
        self.storage.write_published(_EVENTS, txn)
        prof["marker_publish_s"] = round(time.monotonic() - _t, 3)
        self._see_log(txn, self.storage._log_gen(_EVENTS))
        _t = time.monotonic()
        self._hwm_shards.merge_batch(
            batch_hwm, prev_commit=manifest.commit_id, new_commit=txn
        )
        prof["hwm_merge_s"] = round(time.monotonic() - _t, 3)
        # RETURNING * analogue: the written rows as a LocalRelation, or
        # for a set-path batch a lazy offset-range view of the committed
        # log (never collects the batch to the driver; 100 TB-clean).
        if driver:
            return self._local_events(finished)
        lo, hi = manifest.max_offset + 1, manifest.max_offset + n
        return self.events().filter(
            (F.col("offset") >= lo) & (F.col("offset") <= hi)
        )

    def _t6_new_partition_locks(
        self, new_streams: "DataFrame | list[str]", now: datetime
    ) -> None:
        """T6 insert branch (/root/reference/schema.sql:244-252): one lock
        row per registered view for each partition born in this batch, with
        ``last_offset = 0`` and unlocked lease.  The update branch
        (refresh of offset/offset_final) is derived at read time instead
        (SURVEY.md §7.5).  ``new_streams`` is the new ``decider_id`` list
        (index path) or a DataFrame of the new keys (set path), of which
        only the DISTINCT ids are collected, and only when a view is
        registered — bounded by the batch's new-partition count, the same
        cardinality the reference INSERTs."""
        views = self._view_names()
        if not views:  # no consumers registered — T6 is a no-op
            return
        if isinstance(new_streams, DataFrame):
            ids = new_streams.select("decider_id").distinct().toPandas()
        else:
            ids = pd.DataFrame({"decider_id": new_streams})
        if ids.empty:  # the batch only extended existing streams
            return
        rows = pd.DataFrame({"view": views}).merge(ids, how="cross")
        rows["last_offset"] = 0
        rows["locked_until"] = pd.Timestamp(now - _UNLOCK_DELTA)
        rows["created_at"] = pd.Timestamp(now)
        rows["updated_at"] = pd.Timestamp(now)
        self.ledger.insert_missing(rows)

    # ------------------------------------------------------------------ #
    # A3 get_events / A4 get_last_event (/root/reference/schema.sql:348-367)
    # ------------------------------------------------------------------ #

    def get_events(
        self, decider_id: str, decider: str, as_of: int | None = None
    ) -> DataFrame:
        """Replay one entity stream in offset order: the rows committed as
        of this call, as the reference's SQL function returns them
        (/root/reference/schema.sql:348-356).  Within the point-read
        budget the rows are read on the driver from the files whose
        footer ``decider_id`` range holds the stream (the
        ``decider_index`` probe analogue) and come back as a
        LocalRelation, so the call and its collect run no Spark job.
        Above the budget it is a pushdown-filtered Spark scan + sort.
        Either way later commits do not show in the result; a plan that
        should see them is built on ``events()``.

        ``as_of`` replays the stream as it stood at that commit (see
        ``events_as_of``) — rebuilding an aggregate against a historical
        snapshot, e.g. to debug a decision the decider made last week."""
        where = (pc.field("decider_id") == decider_id) & (pc.field("decider") == decider)
        if as_of is not None:
            where &= pc.field("transaction_id") <= int(as_of)
        files = self._point_read_files(
            lambda f: f.decider_id[0] <= decider_id <= f.decider_id[1]
            and (as_of is None or f.txn[0] <= as_of)
        )
        if files is not None:
            return self._local_events(self._read_files(files, where).sort_by("offset"))
        src = self._committed_log()
        if as_of is not None:
            src = src.filter(F.col("transaction_id") <= int(as_of))
        return (
            src
            .filter((F.col("decider_id") == decider_id) & (F.col("decider") == decider))
            .orderBy("offset")
        )

    def get_events_many(
        self, streams: list[tuple[str, str]], as_of: int | None = None
    ) -> DataFrame:
        """Replay MANY entity streams in one job — the set-based form of
        A3 (/root/reference/schema.sql:348-356) for rebuilding a fleet of
        aggregates: a command handler warming 10k deciders issues ONE scan
        with a broadcast semi-join on the (decider_id, decider) pairs
        instead of 10k point queries.  Result is ordered (decider_id,
        offset): each stream's events are contiguous and in replay order,
        ready for ``groupBy(decider_id).applyInPandas``-style folding."""
        src = self.events() if as_of is None else self.events_as_of(as_of)
        pairs = self.spark.createDataFrame(
            streams, schema="decider_id string, decider string"
        )
        return (
            src.join(F.broadcast(pairs), ["decider_id", "decider"], "leftsemi")
            .orderBy("decider_id", "offset")
        )

    def current_transaction_id(self) -> int:
        """The commit counter after the latest append — the engine's XID8
        analogue (SURVEY.md §7.6: a monotone snapshot marker)."""
        return self.storage.read_manifest(_EVENTS).commit_id

    def events_as_of(self, transaction_id: int) -> DataFrame:
        """Snapshot (time-travel) read: the log exactly as it stood after
        commit ``transaction_id``.  Appends are whole-batch commits by a
        single committer, so ``transaction_id <= t`` is a CONSISTENT
        prefix: no torn batches, per-stream chains intact.  The predicate
        reaches the parquet scan (min/max row-group stats prune old
        files), so a recent-snapshot read doesn't scan recent-only data
        backwards — it prunes forward files instead.  This is what the
        reference's XID8 column exists for (snapshot gap-detection,
        /root/reference/schema.sql:50-52), generalized to full time
        travel."""
        return self.events().filter(F.col("transaction_id") <= int(transaction_id))

    def get_last_event(self, decider_id: str, decider: str) -> DataFrame:
        """Last event of a stream, as of this call; read like
        ``get_events`` (driver-side within the point-read budget, a
        top-1 Spark scan above it).  Faithful quirk: the reference body
        filters ONLY on decider_id despite taking v_decider
        (/root/reference/schema.sql:359-367, SURVEY.md §2.1 A4) — it matters
        when two decider types share a decider_id."""
        files = self._point_read_files(
            lambda f: f.decider_id[0] <= decider_id <= f.decider_id[1]
        )
        if files is not None:
            rows = self._read_files(files, pc.field("decider_id") == decider_id)
            return self._local_events(rows.sort_by([("offset", "descending")])[:1])
        return (
            self._committed_log()
            .filter(F.col("decider_id") == decider_id)
            .orderBy(F.col("offset").desc())
            .limit(1)
        )

    # ------------------------------------------------------------------ #
    # A5 register_view + T7 backfill (/root/reference/schema.sql:376-393,
    #                                 268-309)
    # ------------------------------------------------------------------ #

    def register_view(
        self,
        view: str,
        start_at: datetime | str | None = None,
        lock_timeout_s: int = 300,
        pooling_delay_s: int | None = None,
        edge_function_url: str | None = None,
    ) -> DataFrame:
        """UPSERT into views (ON CONFLICT DO UPDATE analogue), then run the
        T7 lock backfill for every existing partition. ``start_at`` accepts an
        ISO-8601 string (the TEXT→TIMESTAMP cast Postgres applies to literals)."""
        with self._commit_lock, self._committer_guard():
            now = _utcnow()
            if isinstance(start_at, str):
                start_at = datetime.fromisoformat(start_at)
            start_at = start_at or now
            existing = self.views()
            prior = existing.filter(F.col("view") == view).collect()
            created_at = prior[0]["created_at"] if prior else now
            row = self.spark.createDataFrame(
                [
                    (
                        view,
                        start_at,
                        int(lock_timeout_s),
                        int(pooling_delay_s) if pooling_delay_s is not None else None,
                        edge_function_url,
                        created_at,
                        now,  # T4: updated_at auto-bump (/root/reference/schema.sql:206-220)
                    )
                ],
                VIEWS_SCHEMA,
            )
            merged = existing.filter(F.col("view") != view).unionByName(row)
            self.storage.write_state(_VIEWS, merged)
            self.views()  # take up the new snapshot now (re-binds views)
            self._t7_backfill(view, start_at, now)
            return row

    def _t7_backfill(self, view: str, start_at: datetime, now: datetime) -> None:
        """T7 (/root/reference/schema.sql:268-309), decorrelated
        (SURVEY.md §2.4): for every existing partition
        ``last_offset = COALESCE((first offset with created_at >= start_at) - 1,
        partition max offset)`` — i.e. start from event-time position
        ``start_at``, or mark fully consumed if nothing is newer.

        ONE Spark aggregation (the event-time aggregate over the log, with
        the ``created_at`` predicate pushed to the scan); the COALESCE
        against the high-watermark and the merge are driver-side frame
        ops.  Result cardinality = #partitions — the inherent write size
        of T7.  On a PAGED store the backfill runs SHARD-AT-A-TIME:
        the aggregate is written ONCE as a shard-partitioned parquet
        staging (the same layout trick as ``ShardedHwm._rebuild``) and
        each ``shard=k`` directory is then read directly with pyarrow —
        O(|aggregate|) total scan work (the previous
        filter-the-persisted-DF-per-shard loop ran one Spark job over the
        WHOLE aggregate per shard, quadratic at the 4096-shard layouts
        ``shards_for``/resize enable), and the transient driver frame is
        one shard, not the whole table.  An empty log has no partition
        to backfill: no aggregate runs."""
        if self.storage.read_manifest(_EVENTS).max_offset == 0:
            return
        first_after_df = (
            self.events()
            .filter(F.col("created_at") >= F.lit(start_at))
            .groupBy("decider_id")
            .agg(F.min("offset").alias("first_after"))
        )
        hwm = self._hwm_view()
        if self.ledger.max_resident is None:
            first_after = first_after_df.toPandas().set_index("decider_id")
            self._t7_upsert_slice(view, first_after, hwm.full(), now)
            return
        import shutil

        shard = F.pmod(
            F.crc32(F.col("decider_id").cast("binary")),
            F.lit(self.ledger.n_shards),
        ).cast("int")
        staging = os.path.join(
            self.storage.root, f"t7_BACKFILL.tmp.{os.getpid()}"
        )
        shutil.rmtree(staging, ignore_errors=True)
        try:
            (
                first_after_df.withColumn("shard", shard)
                .repartition(self.ledger.n_shards, "shard")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(staging)
            )
            for k in range(self.ledger.n_shards):
                hwm_k = hwm.for_shard(k)
                if hwm_k.empty:
                    continue
                src = os.path.join(staging, f"shard={k}")
                if os.path.isdir(src):
                    fa_k = pd.read_parquet(src).set_index("decider_id")
                else:  # no backfill rows routed to this shard
                    fa_k = pd.DataFrame(
                        {"first_after": pd.Series(dtype="int64")},
                        index=pd.Index([], name="decider_id"),
                    )
                self._t7_upsert_slice(view, fa_k, hwm_k, now)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _t7_upsert_slice(
        self,
        view: str,
        first_after: pd.DataFrame,
        hwm: pd.DataFrame,
        now: datetime,
    ) -> None:
        if hwm.empty:
            return
        last = (first_after["first_after"] - 1).reindex(hwm.index)
        rows = pd.DataFrame(
            {
                "view": view,
                "decider_id": hwm.index,
                "last_offset": last.fillna(hwm["offset"]).astype("int64").values,
                "locked_until": pd.Timestamp(now - _UNLOCK_DELTA),
                "created_at": pd.Timestamp(now),
                "updated_at": pd.Timestamp(now),
            }
        )
        self.ledger.upsert(rows)

    # ------------------------------------------------------------------ #
    # A6 stream_events (/root/reference/schema.sql:402-430)
    # ------------------------------------------------------------------ #

    def stream_events(self, view: str, limit: int = 1, seconds: int = 300) -> DataFrame:
        """The delivery kernel: claim ≤ ``limit`` unlocked partitions with
        unread events, lease them for ``seconds``, return the next unread
        event of each (≤ 1 event per partition, distinct partitions,
        /root/reference/schema.sql:399-400).

        Reference-parity quirk, kept deliberately: the lease duration is
        THIS CALL's ``seconds`` argument (default 300), NOT the view's
        stored ``lock_timeout_s`` — the reference stores that column
        (schema.sql:165) but its ``stream_events`` and push cron never
        read it either (schema.sql:402-417, extensions.sql:40-42).
        Callers wanting per-view timeouts pass them here explicitly.

        Claim concurrency — the ``FOR UPDATE SKIP LOCKED`` analogue
        (/root/reference/schema.sql:411): threads serialize on the commit
        lock, PROCESSES on the ledger's filesystem lease lock, under which
        the ledger reloads any sibling process's flushed leases before
        picking — so concurrent claimers always get disjoint partitions.

        Cost model: the claim+lease is driver-side (pandas over the
        ledger + hwm frames, one pyarrow snapshot flush) — no Spark job.
        Delivery reads through a READ-AHEAD window per view: when a claim
        misses, one refill (``_refill_prefetch``) fetches the next
        ``PREFETCH_DEPTH`` unread events of the missed partitions and of
        up to ``PREFETCH_PARTITIONS`` of the view's other unread
        partitions, picked by the ledger in the order its claims will
        reach them (``ShardedLocksLedger.upcoming_claims``).  That frame
        replaces the view's window; a later claim is served by a binary
        search in its partition's row span.  Within the point-read budget
        the refill is a driver-side pyarrow read of the files holding
        offsets above the smallest claimed position, so a poll runs no
        Spark job; above it (a consumer far behind) it is one Spark plan,
        whose jobs the window then amortises over up to
        ``PREFETCH_DEPTH`` polls.  The delivered result is driver-bound by contract anyway
        (the consumer collects ≤limit single events), so buffering it
        driver-side is exactly a DB cursor's read-ahead, not a scale
        compromise.  Append-only log + per-commit invalidation keep the
        cache trivially coherent.  The reference's plan
        (schema.sql:418-428) does a B-tree probe per partition; this does
        one batched read per refill, and the rows come back as a
        LocalRelation."""
        with self._commit_lock:
            now = _utcnow()
            self._refresh_external()
            hwm = self._hwm_view()  # sharded: the claim walk reads per-shard
            claimed = self.ledger.claim(
                view, hwm, int(limit), now, now + timedelta(seconds=int(seconds))
            )
            if not claimed:
                return self.events().limit(0)
            served, missing, drained = self._serve_from_prefetch(view, claimed)
            if missing:
                # One read warms the misses and, up to PREFETCH_PARTITIONS
                # in all, the view's other unread partitions in the order
                # the ledger's claims will reach them, so later claims hit
                # whichever partitions the sharded claim rotation picks.
                self._refill_prefetch(
                    view,
                    self.ledger.upcoming_claims(
                        view, hwm, self.PREFETCH_PARTITIONS, first=missing
                    ),
                )
                more, _, drained2 = self._serve_from_prefetch(
                    view, missing, count=False
                )
                served = more if served is None else pd.concat([served, more])
                drained.extend(drained2)
            # Drained-claim release: a claim whose window is complete
            # and empty has NOTHING readable in our log view — possible
            # when the disk-backed watermark is microseconds NEWER than
            # our log view (hwm.py module doc).  Leaving it leased would
            # stall that partition for the full lease; release it now so
            # the next tick (with a caught-up log) redelivers.
            for decider_id in drained:
                self.ledger.set_locked_until(
                    view, decider_id, now - _UNLOCK_DELTA, now
                )
        if served.empty:
            return self.events().limit(0)
        # pandas → Arrow ⇒ a true LocalRelation: .collect() is then a
        # driver-local read (~10ms), where a tuple-list DataFrame would be
        # RDD-backed and pay a full job per collect (~300ms measured).
        served = served.sort_values("offset", ignore_index=True)
        return self.spark.createDataFrame(served, schema=EVENTS_SCHEMA)

    def _serve_from_prefetch(
        self, view: str, claimed: list[tuple[str, int]], count: bool = True
    ) -> "tuple[pd.DataFrame | None, list[tuple[str, int]], list[str]]":
        """Split claims into the window rows that serve them (None when
        the view has no window), claims needing a refill, and the
        decider_ids of DRAINED claims (complete span, nothing above the
        claim position — the hwm-ahead-of-log case the caller releases).
        A partition's span, fetched at position ``lo``, holds every
        event in (lo, its last row], and all events above ``lo`` when it
        holds fewer than PREFETCH_DEPTH rows; so for a claim at L ≥ lo
        the first row above L IS the next unread event, and a claim
        below ``lo`` is a miss.  ``count=False`` (the post-refill retry)
        keeps the hit/miss counters measuring only FIRST-attempt serves
        — the cache's steady-state hit rate."""
        rows, offsets, spans = self._prefetch.get(view, (None, None, {}))
        pos, missing, drained = [], [], []
        for decider_id, last_offset in claimed:
            span = spans.get(decider_id)
            if span is not None and last_offset >= span[2]:
                start, stop, _ = span
                i = bisect.bisect_right(offsets, last_offset, start, stop)
                if i < stop:
                    pos.append(i)
                    continue
                if stop - start < self.PREFETCH_DEPTH:
                    drained.append(decider_id)
                    continue
            missing.append((decider_id, last_offset))
        if count:
            self.prefetch_counters["misses"] += len(missing)
            self.prefetch_counters["hits"] += len(claimed) - len(missing)
        return (None if rows is None else rows.iloc[pos]), missing, drained

    def _refill_prefetch(self, view: str, pairs: list[tuple[str, int]]) -> None:
        """The next PREFETCH_DEPTH unread events of every partition in
        ``pairs`` (decider_id, last_offset), which become the view's
        window — the batched index-probe analogue of schema.sql:418-423.
        Within the point-read budget it is one driver-side read of the
        files holding offsets above the smallest ``last_offset``, then a
        per-partition head in pandas; above it, one Spark plan (the pairs
        as ``isin`` and map-literal predicates, then a per-partition topK
        over an offset-pruned scan).  The
        window is the fetched frame, sorted by (decider_id, offset), with
        each pair's row span and fetch-time ``last_offset``."""
        self.prefetch_counters["refills"] += 1
        k = self.PREFETCH_DEPTH
        min_last = min(lo for _, lo in pairs)
        ids = [d for d, _ in pairs]
        first, last = min(ids), max(ids)
        files = self._point_read_files(
            lambda f: f.offset[1] > min_last
            and f.decider_id[0] <= last
            and first <= f.decider_id[1]
        )
        if files is not None:
            where = (pc.field("offset") > min_last) & pc.field("decider_id").isin(ids)
            rows = self._read_files(files, where).to_pandas()
            rows = rows[rows["offset"] > rows["decider_id"].map(dict(pairs))]
            fetched = rows.sort_values(["decider_id", "offset"]).groupby("decider_id").head(k)
        else:
            # the pairs as predicates, not a joined relation: a DataFrame
            # of them would cost a Spark job of its own
            last_of = F.map_from_arrays(F.lit(ids), F.lit([lo for _, lo in pairs]))
            w = Window.partitionBy("decider_id").orderBy("offset")
            fetched = (
                self._committed_log()
                .filter(F.col("offset") > F.lit(min_last))
                .filter(F.col("decider_id").isin(ids))
                .filter(F.col("offset") > F.element_at(last_of, F.col("decider_id")))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= F.lit(k))
                .select([f.name for f in EVENTS_SCHEMA.fields])
                .toPandas()  # Arrow transfer
                .sort_values(["decider_id", "offset"])
            )
        part = fetched["decider_id"]
        spans = {
            d: (int(a), int(b), lo)
            for (d, lo), a, b in zip(
                pairs, part.searchsorted(ids, "left"), part.searchsorted(ids, "right")
            )
        }
        self._prefetch[view] = (fetched, fetched["offset"].to_numpy(), spans)
        if sum(len(w[0]) for w in self._prefetch.values()) > self.PREFETCH_PARTITIONS * k:
            self._prefetch = {view: self._prefetch[view]}

    # ------------------------------------------------------------------ #
    # A7/A8/A9 ack / nack / schedule_nack
    # (/root/reference/schema.sql:436-468)
    # ------------------------------------------------------------------ #

    def _locks_rows(self, view: str, decider_ids: list[str]) -> DataFrame:
        """RETURNING-clause analogue: reference-shaped lock rows for the
        touched keys, built from the driver frames (no Spark job, no full
        table materialization — and on a paged store, touching ONLY the
        keys' ledger + hwm shards)."""
        with self._commit_lock:  # see locks(): reads must not race mutators
            state = self.ledger.rows_for(view, decider_ids)
            hwm_reset = self._hwm_view().lookup(decider_ids).reset_index()
        return self._locks_frame(state.merge(hwm_reset, on="decider_id", how="inner"))

    def ack_event(self, view: str, decider_id: str, offset: int) -> DataFrame:
        """Commit + release: last_offset = offset, locked_until = NOW()
        (/root/reference/schema.sql:436-446)."""
        now = _utcnow()
        # RETURNING built inside the same critical section as the ack —
        # releasing the lock first let a delivery tick re-lease the
        # partition before the read, so the returned row showed a fresh
        # lease instead of the released state the ack just wrote
        # (_commit_lock is reentrant).
        with self._commit_lock:
            self.ledger.ack(view, [(decider_id, int(offset))], now)
            return self._locks_rows(view, [decider_id])

    def ack_events(
        self, view: str, acks: list[tuple[str, int]], returning: bool = True
    ) -> DataFrame | None:
        """Batch commit: ONE ledger mutation + ONE snapshot flush for a
        micro-batch of (decider_id, offset) acks — the consumer-side
        analogue of ``append_batch``.  Per-pair semantics match
        ``ack_event`` (/root/reference/schema.sql:436-446); at cluster
        scale the per-commit latency, not the row count, is the cost.

        ``returning=False`` skips building the RETURNING DataFrame and
        returns None — the Kafka-commit-style void ack for delivery loops
        that never read it (building a DataFrame costs a py4j round trip
        even when unused)."""
        if not acks:
            return self.locks().filter(F.lit(False)) if returning else None
        now = _utcnow()
        with self._commit_lock:
            self.ledger.ack(view, [(d, int(o)) for d, o in acks], now)
            if not returning:
                return None
            return self._locks_rows(view, [d for d, _ in acks])

    def nack_event(self, view: str, decider_id: str) -> DataFrame:
        """Release without committing ⇒ immediate redelivery
        (/root/reference/schema.sql:449-457)."""
        return self.schedule_nack_event(view, decider_id, 0)

    def schedule_nack_event(self, view: str, decider_id: str, milliseconds: int = 0) -> DataFrame:
        """Delayed retry: locked_until = NOW() + interval
        (/root/reference/schema.sql:460-468)."""
        now = _utcnow()
        with self._commit_lock:
            self.ledger.set_locked_until(
                view,
                decider_id,
                now + timedelta(milliseconds=int(milliseconds)),
                now,
            )
            return self._locks_rows(view, [decider_id])

    # ------------------------------------------------------------------ #
    # unregister_view — DELETE FROM views + FK ON DELETE CASCADE on locks
    # (/root/reference/schema.sql:199; extensions T10,
    #  /root/reference/extensions.sql:113-126)
    # ------------------------------------------------------------------ #

    def unregister_view(self, view: str) -> DataFrame:
        """Delete a consumer registration and cascade-delete its locks in
        one logical operation (the reference gets the cascade from the
        ``locks.view → views.view ON DELETE CASCADE`` FK).  Returns the
        deleted view rows (RETURNING analogue).  Any push-delivery query
        for the view should be stopped by the caller (T10's
        cron.unschedule ⇔ ``PushDelivery.stop`` / ``sync``)."""
        with self._commit_lock, self._committer_guard():
            views = self.views()
            # collected before the state flip: the small result outlives
            # the snapshot it was read from, with nothing left persisted
            deleted = self.spark.createDataFrame(
                views.filter(F.col("view") == view).collect(), VIEWS_SCHEMA
            )
            self.storage.write_state(_VIEWS, views.filter(F.col("view") != view))
            self.views()  # take up the new snapshot now (re-binds views)
            self.ledger.delete_view(view)
            self._prefetch.pop(view, None)
            return deleted

    # ------------------------------------------------------------------ #
    # R1-R4 immutability rules (/root/reference/schema.sql:58-72)
    # ------------------------------------------------------------------ #

    def delete_events(self, *_args, **_kwargs) -> int:
        """R3 ``ignore_delete_events``: DELETE on the event log is a
        SILENT no-op (``DO INSTEAD NOTHING``), not an error — the log is
        immutable.  Returns 0 (rows affected), matching what a Postgres
        client observes through the rule."""
        return 0

    def update_events(self, *_args, **_kwargs) -> int:
        """R4 ``ignore_update_events``: UPDATE on events — silent no-op."""
        return 0

    def delete_decider_events(self, *_args, **_kwargs) -> int:
        """R1 ``ignore_delete_decider_events``: DELETE on the registry —
        silent no-op (registrations are permanent)."""
        return 0

    def update_decider_events(self, *_args, **_kwargs) -> int:
        """R2 ``ignore_update_decider_events``: UPDATE on the registry —
        silent no-op."""
        return 0

    # ------------------------------------------------------------------ #
    # Operational introspection
    # ------------------------------------------------------------------ #

    def stats(self) -> dict:
        """Store health snapshot (the pg_stat_* analogue an operator
        would poll): log row/partition/file counts, the committed
        high-watermark offset and transaction id, registry sizes, and
        state snapshot versions.  Within the point-read budget it runs
        no Spark job: the event count is the sum of the visible log
        files' footer row counts and the partition count a distinct
        count over their ``decider_id`` column, read with pyarrow; above
        it both come from one log aggregate.  The registry sizes come
        from the pyarrow memos of the registry tables, the rest from
        metadata and driver-side state."""
        manifest = self.storage.read_manifest(_EVENTS)
        files = self._point_read_files()
        if files is not None:
            ids = self._read_files(files, None, ["decider_id"]).column(0)
            n, p = sum(f.rows for f in files), pc.count_distinct(ids).as_py()
        else:
            n, p = self._committed_log().agg(
                F.count(F.lit(1)), F.count_distinct("decider_id")
            ).collect()[0]
        return {
            "n_events": n,
            "n_partitions": p,
            "max_offset": manifest.max_offset,
            "commit_id": manifest.commit_id,
            "log_files": self.storage.log_file_count(_EVENTS),
            "n_registered_events": len(self._registered_events()),
            "n_views": len(self._view_names()),
            "prefetch": dict(self.prefetch_counters),
            "append_paths": dict(self.append_paths),
            "last_append_profile": dict(self.last_append_profile),
            "ledger_resident_shards": self.ledger.resident_shards(),
            "ledger_resident_bytes": self.ledger.resident_bytes(),
            "ledger_max_resident": self.ledger.max_resident,
            "hwm_resident_shards": self._hwm_shards.resident_shards(),
            "hwm_resident_bytes": self._hwm_shards.resident_bytes(),
            "hwm_rebuilds": self._hwm_shards.rebuild_count,
            "state_versions": {
                **{
                    t: self.storage.state_version(t)
                    for t in (_DECIDERS, _VIEWS, _PAYLOAD)
                },
                **{
                    s.table: self.storage.state_version(s.table)
                    for s in self.ledger.shards
                },
            },
        }
