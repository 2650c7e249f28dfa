"""Parquet-backed storage with an append-only log + versioned state snapshots.

Why not plain ``df.write.mode("overwrite")`` for mutable state: Spark cannot
overwrite a path it is concurrently reading, and a crashed overwrite leaves a
torn table.  Instead every state-table update writes a brand-new snapshot
directory ``<table>/v{N}`` and then atomically flips a ``_LATEST`` pointer
file (os.replace is atomic on POSIX).  Readers always load a complete,
immutable snapshot.  This is a miniature of what Delta's transaction log
does; on a real cluster the ``TableStorage`` interface maps 1:1 onto Delta:

    append_log    → Delta append (``delta.appendOnly=true``)
    write_state   → Delta MERGE / overwrite with snapshot isolation
    manifest      → Delta commit version (doubles as the XID8 analogue,
                    /root/reference/schema.sql:51-52)

The event log itself is append-only parquet (one directory, one or more
files per committed batch), mirroring the reference's append-only ``events``
heap table with UPDATE/DELETE-ignoring rules (/root/reference/schema.sql:66-72)
— the engine simply exposes no mutating verbs on it (SURVEY.md §2.3 R3/R4).
A batch reaches the log one of two ways: ``write_log_table`` writes a
small batch's one file on the driver with pyarrow (no Spark job), staged
and renamed in so it lands whole; ``append_log`` writes a large batch's
files with a Spark job through Spark's ``_temporary`` staging.  Both
produce the same physical schema, and every reader reads both alike.

Scale notes (100 TB): point reads of the log prune files by their
footer ranges (``LogFile``).  That prunes the index path's files, which
each hold one small commit.  The set path's bulk files do not prune:
``append_log`` hash-partitions them by ``decider_id`` without sorting, so
each file's ``decider_id`` range spans nearly every stream and a
one-stream read scans them all (range-partitioned, sorted bulk files are
ROADMAP.md item 9).  State tables (views, consumer locks, the watermark)
are orders of magnitude smaller than the log; the sharded ones are paged
``ShardFrame``s (below).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LATEST = "_LATEST"
_MANIFEST = "_MANIFEST.json"
# A generation's staging directory for driver-written log files
# (``ParquetStore.write_log_table``): underscore-prefixed, so Spark's
# listing skips it, as it skips its own ``_temporary``.
_STAGING = "_staging"


def read_log_gen(root: str, table: str) -> int:
    """The log table's current generation from the ``_LATEST`` pointer
    (0 if absent).  The ONE pointer-parse definition — batch reads,
    compaction, and the streaming source must agree on the layout."""
    pointer = os.path.join(root, table, _LATEST)
    if not os.path.exists(pointer):
        return 0
    with open(pointer, encoding="utf-8") as f:
        return int(f.read().strip())


def current_log_dir(root: str, table: str) -> str:
    """Resolve a log table's current generation directory.  Shared by
    batch reads (``ParquetStore``) and the streaming source so both always
    see the same snapshot of the log layout."""
    return os.path.join(root, table, f"g{read_log_gen(root, table):06d}")


def _atomic_write(path: str, content: str, durable: bool = True) -> None:
    """Write-(fsync)-rename.  With ``durable`` (the default), after a
    crash OR POWER LOSS the path holds either the old content or the
    complete new content, never a torn or zero-length file (rename
    without fsync can surface an empty pointer on delayed-allocation
    filesystems).  ``durable=False`` skips the fsync: rename atomicity
    still guarantees process-crash safety (page cache survives), and the
    caller accepts bounded loss on power failure — used ONLY for
    consumer-progress pointers, where a lost tail means redelivery
    (at-least-once preserved by design), never for event data."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(content)
        if durable:
            f.flush()
            os.fsync(f.fileno())
    os.replace(tmp, path)


def _fsync_dir(path: str) -> None:
    """Best-effort directory fsync: makes a just-completed ``os.replace``
    into ``path`` durable across POWER loss (rename atomicity alone only
    guarantees process-crash safety — the dirent itself lives in the page
    cache until the directory is synced)."""
    try:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    except OSError:
        pass  # e.g. filesystems that refuse O_RDONLY dir fsync


@dataclass
class Manifest:
    """Log-level metadata: current max offset + commit counter.

    ``commit_id`` is the engine's monotone transaction marker (the XID8
    analogue); ``max_offset`` caches the BIGSERIAL head so offset assignment
    is O(1) instead of a max() scan per append (SURVEY.md §7.4).

    ``pending_rows`` records how many rows the
    allocation ``commit_id`` is about to append — written durably BEFORE
    the log append so crash recovery can verify whether the batch landed
    COMPLETELY (publish it) or PARTIALLY (quarantine its files) instead of
    assuming append-never-ran / append-fully-completed are the only crash
    windows.  0 at the bootstrap commit, where recovery never runs.
    """

    max_offset: int = 0
    commit_id: int = 0
    pending_rows: int = 0


# The columns whose footer min/max a ``LogFile`` keeps: what point reads
# of the event log prune files on.
_RANGE_COLS = ("transaction_id", "offset", "decider_id")


@dataclass(frozen=True)
class LogFile:
    """One event-log parquet file's footer figures: its row count and the
    (min, max) of ``transaction_id``, ``offset`` and ``decider_id`` —
    None for an empty file."""

    path: str
    rows: int
    txn: "tuple[int, int] | None"
    offset: "tuple[int, int] | None"
    decider_id: "tuple[str, str] | None"


def read_footer(path: str) -> LogFile:
    """A log file's ``LogFile`` from its parquet footer alone (one small
    read).  A column without min/max statistics in some row group falls
    back to reading that column (defensive only: Spark and pyarrow both
    write statistics).  Raises when the footer is unreadable."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    if md.num_rows == 0:
        return LogFile(path, 0, None, None, None)
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    ranges, missing = {}, []
    for c in _RANGE_COLS:
        ci = names.index(c)
        stats = [md.row_group(g).column(ci).statistics for g in range(md.num_row_groups)]
        if all(st is not None and st.has_min_max for st in stats):
            ranges[c] = (min(st.min for st in stats), max(st.max for st in stats))
        else:
            missing.append(c)
    if missing:
        t = pq.read_table(path, columns=missing)
        for c in missing:
            mm = pc.min_max(t[c])
            ranges[c] = (mm["min"].as_py(), mm["max"].as_py())
    return LogFile(path, md.num_rows, *(ranges[c] for c in _RANGE_COLS))


class ParquetStore:
    """Single-writer parquet store for one EventStore instance.

    Concurrency model (SURVEY.md §7.3 item 4, §7.5): appends are serialized
    through this object (one committer), which makes offset assignment exact
    and validation race-free.  A process-level lock guards the manifest; on
    a cluster the single-committer role is a driver-side service or Delta's
    optimistic-concurrency conflict detection.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._lock = threading.RLock()
        self._footers: dict[str, LogFile] = {}  # path -> footer: see log_files
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------------ #
    # append-only log
    # ------------------------------------------------------------------ #

    def _log_base(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _log_gen(self, table: str) -> int:
        return read_log_gen(self.root, table)

    def _log_dir(self, table: str, gen: int | None = None) -> str:
        """Logs live in generation subdirectories; compaction writes a new
        generation and flips the pointer, so readers always see a complete
        snapshot (same discipline as state tables)."""
        if gen is None:
            return current_log_dir(self.root, table)
        return os.path.join(self._log_base(table), f"g{gen:06d}")

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}{_MANIFEST}")

    def read_manifest(self, table: str) -> Manifest:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return Manifest()
        with open(path, encoding="utf-8") as f:
            d = json.load(f)
        return Manifest(
            max_offset=d["max_offset"],
            commit_id=d["commit_id"],
            # null in a bootstrap manifest written before it defaulted to 0
            pending_rows=d.get("pending_rows") or 0,
        )

    def write_manifest(self, table: str, manifest: Manifest) -> None:
        _atomic_write(
            self._manifest_path(table),
            json.dumps(
                {
                    "max_offset": manifest.max_offset,
                    "commit_id": manifest.commit_id,
                    "pending_rows": manifest.pending_rows,
                }
            ),
        )

    # ------------------------------------------------------------------ #
    # published marker — commit VISIBILITY, distinct from the manifest's
    # commit ALLOCATION role.  The manifest advances BEFORE the log append
    # (crash ⇒ offset gap, never duplicates); the published marker
    # advances AFTER the append completes.  Sibling processes key their
    # cache invalidation on the published id, so they never rebuild from
    # a log directory that is missing (or partially containing) a batch
    # still being written.
    # ------------------------------------------------------------------ #

    def _published_path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}_PUBLISHED")

    def read_published(self, table: str) -> int:
        """Commit id of the last fully appended (visible) batch
        (``init_log`` seeds the marker)."""
        path = self._published_path(table)
        with open(path, encoding="utf-8") as f:
            return int(f.read().strip())

    def write_published(self, table: str, commit_id: int) -> None:
        _atomic_write(self._published_path(table), str(commit_id))

    def init_log(self, table: str, schema: StructType) -> None:
        """Idempotent bootstrap: empty parquet dir with the fixed schema
        (the DDL-bootstrap analogue, SURVEY.md §2.2 'DDL bootstrap')."""
        os.makedirs(self._log_base(table), exist_ok=True)
        path = self._log_dir(table)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            empty = self.spark.createDataFrame([], schema)
            empty.write.mode("overwrite").parquet(path)
            _atomic_write(os.path.join(self._log_base(table), _LATEST), "0")
            self.write_manifest(table, Manifest())
        # Seed the published marker at bootstrap, from the manifest
        # before its first advance: visibility is marker-gated from the
        # first commit on, and every reader finds the marker.
        if not os.path.exists(self._published_path(table)):
            self.write_published(table, self.read_manifest(table).commit_id)

    def append_log(self, table: str, df: DataFrame, cluster_by: str | None = None) -> None:
        """Append a committed batch.  ``cluster_by`` hash-partitions the
        batch on that column, one output file per non-empty partition.
        The files are not sorted, so their footer ranges do not prune
        point reads (module doc)."""
        if cluster_by is not None:
            df = df.repartition(cluster_by)
        df.write.mode("append").parquet(self._log_dir(table))

    def write_log_table(self, table: str, t) -> None:
        """Append a committed batch written on the driver, with no Spark
        job: the pyarrow Table ``t`` as one parquet file in Spark's
        physical layout (``created_at`` as INT96).  The file is written
        and fsync'd under ``_staging/`` in the current generation, renamed
        into the generation, and the directory fsync'd, so it lands whole
        or not at all; a crash before the rename leaves only a staged file,
        which no reader lists and ``clear_append_staging`` removes."""
        d = self._log_dir(table)
        staged = self._stage_log_file(d, t)
        os.replace(staged, os.path.join(d, os.path.basename(staged)))
        _fsync_dir(d)

    @staticmethod
    def _stage_log_file(log_dir: str, t) -> str:
        """Write ``t`` durably under ``log_dir/_staging``; returns the path."""
        import pyarrow.parquet as pq

        staging = os.path.join(log_dir, _STAGING)
        os.makedirs(staging, exist_ok=True)
        path = os.path.join(staging, f"part-{uuid.uuid4()}.parquet")
        with open(path, "wb") as f:
            # no Arrow schema in the footer (a third of a one-row file):
            # readers impose the log's schema, as on Spark's files
            pq.write_table(
                t, f, use_deprecated_int96_timestamps=True, store_schema=False
            )
            f.flush()
            os.fsync(f.fileno())
        return path

    def read_log(self, table: str, schema: StructType) -> DataFrame:
        """Build a fresh DataFrame over the current log generation.

        ``refreshByPath`` first: Spark caches directory LISTINGS
        session-wide (FileStatusCache), and a SIBLING PROCESS's appended
        files are invisible through a cached listing — a new DataFrame
        would list through the same stale cache, silently hiding the
        sibling's batch (the pure-reader crash-recovery test covers
        this).  Same-process appends are safe either way (Spark's own
        write commit invalidates the path).  The store calls read_log
        once per log generation (``EventStore.events``) and re-lists that
        DataFrame in place on each commit (``relist_log``), so the O(1)
        in-memory invalidation costs nothing on the hot path."""
        path = self._log_dir(table)
        try:
            self.spark.catalog.refreshByPath(path)
        except Exception:
            pass  # e.g. path not yet cached; never block a read on this
        return self.spark.read.schema(schema).parquet(path)

    @staticmethod
    def relist_log(df: DataFrame) -> None:
        """Re-list, in place, the files under a DataFrame ``read_log``
        returned.  A file-source DataFrame lists its directory once, when
        it is built, and every plan derived from it shares that listing:
        after this call those plans, including ones a caller still holds,
        also read the files appended since — up to a plan's first action,
        which fixes its file list.  The refresh also drops the session's
        cached listings, so a sibling process's files show up."""
        df._jdf.queryExecution().analyzed().relation().location().refresh()

    def log_files(
        self, table: str, gen: int | None = None
    ) -> "tuple[list[LogFile], list[str]]":
        """``(files, torn)``: the footer figures (``LogFile``) of every
        non-empty ``*.parquet`` directly under the log generation ``gen``
        (default: the current one), and the paths whose footer is
        unreadable.  ``_temporary/``, ``_staging/`` and ``_quarantine/``
        are subdirectories, so they are never listed.

        Footers come from a memo keyed by path.  A log file is never
        rewritten in place: an append writes new names, compaction a new
        generation directory, recovery moves files out of the directory.
        So an entry never goes stale; the memo keeps only the paths of
        the last listing, which bounds it by one generation's file
        count."""
        d = self._log_dir(table, gen)
        memo = self._footers
        files: list[LogFile] = []
        torn: list[str] = []
        listed: dict[str, LogFile] = {}
        for name in os.listdir(d):
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(d, name)
            f = memo.get(p)
            if f is None:
                try:
                    f = read_footer(p)
                except Exception:  # unreadable footer: torn by power loss
                    torn.append(p)
                    continue
            listed[p] = f
            if f.rows:
                files.append(f)
        self._footers = listed
        return files, torn

    def txn_log_files(
        self, table: str, txn: int
    ) -> "tuple[list[str], int, list[str]]":
        """(paths, total_rows, torn) of current-generation log files —
        ``paths`` are files whose rows ALL belong to commit ``txn``, by
        the footer ranges of ``log_files`` (no data read); ``torn`` are
        files with UNREADABLE footers (a power loss can persist an
        append's rename while losing its data pages — such a file belongs
        to no readable batch but would fail every subsequent log read if
        left in place, so recovery must quarantine it).  Every append
        writes fresh files containing only its own commit, so a batch's
        files are exactly the min==max==txn set; recovery uses this to
        verify whether a crashed append landed completely."""
        files, torn = self.log_files(table)
        mine = [f for f in files if f.txn == (txn, txn)]
        return [f.path for f in mine], sum(f.rows for f in mine), torn

    @staticmethod
    def read_log_files(
        files: "list[LogFile]", schema: StructType, columns: list[str], where
    ):
        """The rows of ``files`` matching the pyarrow expression ``where``,
        as a pyarrow Table of ``columns`` typed by ``schema`` — a
        driver-side read with no Spark job.  Row groups whose statistics
        rule ``where`` out are skipped.  Timestamps (INT96 in Spark's
        files) read as naive microseconds, as Spark reads them in a UTC
        session."""
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        fmt = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        dataset = ds.dataset(
            [f.path for f in files],
            schema=to_arrow_schema(schema, timestamp_utc=False),
            format=fmt,
        )
        return dataset.to_table(columns=columns, filter=where)

    def quarantine_log_files(self, table: str, txn: int, paths: list[str]) -> str:
        """Move log files into ``_quarantine/txn_<id>/`` under the current
        log generation instead of unlinking them (recovery used
        to DELETE a partial batch's files; a misconfigured reader on a
        flock-less mount — the documented ProcessLock limitation — could
        then destroy a live committer's in-flight batch unrecoverably.
        Moving preserves the bytes for manual inspection/salvage while
        removing them from every read path: the leading underscore makes
        Spark/Hadoop listing ignore the directory, and the os.listdir
        scans here match only ``*.parquet`` directly in the log dir).
        Returns the quarantine directory."""
        qdir = os.path.join(self._log_dir(table), "_quarantine", f"txn_{txn}")
        os.makedirs(qdir, exist_ok=True)
        for p in paths:
            try:
                os.replace(p, os.path.join(qdir, os.path.basename(p)))
            except FileNotFoundError:
                pass  # already gone (e.g. a sibling recovered first)
        return qdir

    def clear_append_staging(self, table: str) -> None:
        """Remove a dead writer's staging under the current log
        generation: a Spark job's ``_temporary`` and the driver writer's
        ``_staging``.  Required during quarantine recovery for the first:
        the FileOutputCommitter's next job commit would otherwise sweep
        the dead job's already-task-committed directories into the log,
        resurrecting part of a quarantined batch.  A staged driver file
        is never renamed in by anyone else; clearing it reclaims the
        space."""
        for name in ("_temporary", _STAGING):
            tmp = os.path.join(self._log_dir(table), name)
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)

    def log_file_count(self, table: str) -> int:
        return sum(
            1 for f in os.listdir(self._log_dir(table)) if f.endswith(".parquet")
        )

    def compact_log(self, table: str, df: DataFrame, keep_gens: int = 2) -> None:
        """OPTIMIZE analogue: rewrite the log as a new generation, flip the
        pointer, GC old generations.  The caller provides the (repartitioned
        / sorted) DataFrame; it must read from the CURRENT generation, which
        stays intact until the pointer flips."""
        with self._lock:
            new_gen = self._log_gen(table) + 1
            df.write.mode("overwrite").parquet(self._log_dir(table, new_gen))
            _atomic_write(os.path.join(self._log_base(table), _LATEST), str(new_gen))
            base = self._log_base(table)
            gens = sorted(
                d for d in os.listdir(base) if d.startswith("g") and d[1:].isdigit()
            )
            for d in gens[:-keep_gens]:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    # ------------------------------------------------------------------ #
    # versioned state snapshots
    # ------------------------------------------------------------------ #

    def _state_dir(self, table: str) -> str:
        return os.path.join(self.root, f"{table}_state")

    def _latest_path(self, table: str) -> str:
        return os.path.join(self._state_dir(table), _LATEST)

    def init_state(self, table: str, schema: StructType) -> None:
        base = self._state_dir(table)
        os.makedirs(base, exist_ok=True)
        if not os.path.exists(self._latest_path(table)):
            empty = self.spark.createDataFrame([], schema)
            self.write_state(table, empty)

    def state_version(self, table: str) -> int:
        path = self._latest_path(table)
        if not os.path.exists(path):
            return -1
        with open(path, encoding="utf-8") as f:
            return int(f.read().strip())

    def _clear_unpublished(self, table: str, version: int) -> None:
        """Remove any artifact already sitting at a version about to be
        allocated.  Such an artifact can only be the leavings of a flush
        that CRASHED between publishing its file/dir and flipping
        ``_LATEST`` (the flip is the commit point; writers hold the
        table's lock/flock through both steps, so a live writer can never
        race this).  Deleting it is safe — its API call never returned —
        and required: ``_state_entry`` prefers a ``v{N}`` DIRECTORY over
        a later ``v{N}.delta.arrow``, so a shadowing orphan would make
        every reader resolve version N to stale pre-crash state and
        re-claim partitions another process holds."""
        base = self._state_dir(table)
        full = os.path.join(base, f"v{version:08d}")
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        try:
            os.unlink(f"{full}.delta.arrow")
        except FileNotFoundError:
            pass

    def write_state(self, table: str, df: DataFrame) -> int:
        """Write a complete new snapshot, then flip the pointer.

        State tables (views/locks/deciders registries) are small relative to
        the log — one file per snapshot keeps the next read a single task
        instead of one per upstream shuffle partition.  ``repartition(1)``
        (not ``coalesce``): coalesce would collapse the upstream join/agg
        stage itself to one task, serializing the backfill computation;
        repartition inserts an exchange so only the already-small OUTPUT
        funnels through the writer.  At true cluster scale a locks table
        with millions of partitions is still ~100 MB — one file remains the
        right layout."""
        with self._lock:
            version = self.state_version(table) + 1
            self._clear_unpublished(table, version)
            target = os.path.join(self._state_dir(table), f"v{version:08d}")
            df.repartition(1).write.mode("overwrite").parquet(target)
            _atomic_write(self._latest_path(table), str(version))
            self._gc_state(table, keep=4)
            return version

    def read_state(self, table: str, schema: StructType) -> DataFrame:
        version = self.state_version(table)
        target = os.path.join(self._state_dir(table), f"v{version:08d}")
        return self.spark.read.schema(schema).parquet(target)

    # ------------------------------------------------------------------ #
    # pyarrow path (no Spark job).  Same snapshot layout, so Spark reads
    # and pyarrow reads/writes are interchangeable per version; pyarrow
    # ignores _SUCCESS/_metadata (default ignore_prefixes) so
    # Spark-written snapshots load cleanly.  A version is either a FULL
    # snapshot directory ``v{N}`` or a DELTA file ``v{N}.delta.arrow``;
    # only ``ShardFrame`` writes and reads deltas, and Spark's
    # ``read_state`` is only pointed at all-full-snapshot tables.
    # ------------------------------------------------------------------ #

    def _state_entry(self, table: str, version: int) -> tuple[str, str] | None:
        """('full'|'delta', path) for one version, None if absent.  Deltas
        are Arrow IPC files (``.delta.arrow``): ~5-10x cheaper to write
        and read than parquet at per-commit sizes, and only ``ShardFrame``
        touches them (Spark reads full snapshots only)."""
        full = os.path.join(self._state_dir(table), f"v{version:08d}")
        if os.path.isdir(full):
            return ("full", full)
        if os.path.exists(f"{full}.delta.arrow"):
            return ("delta", f"{full}.delta.arrow")
        return None

    @staticmethod
    def _coerce_us(pdf):
        """Timestamps as micros (Spark TimestampType round-trip).  No-op
        without a copy when dtypes are already us-resolution — the hot
        delta-flush path."""
        off = [
            c
            for c, dt in pdf.dtypes.items()
            if str(dt).startswith("datetime64") and str(dt) != "datetime64[us]"
        ]
        if not off:
            return pdf
        pdf = pdf.copy()
        for c in off:
            pdf[c] = pdf[c].astype("datetime64[us]")
        return pdf

    def write_state_delta(self, table: str, pdf, durable: bool = False) -> int:
        """Append one delta version: the changed rows only, with a
        ``_deleted`` bool column.  Single Arrow IPC file staged through a
        tmp name + os.replace, so readers never see a torn delta.  No GC
        here — full-snapshot writes compact the chain.

        ``durable=False`` (the consumer-progress hot path) is ASYNC
        COMMIT (the Postgres synchronous_commit=off queue pattern): no
        fsync on the delta or its pointer flip.  Rename atomicity still
        makes every flush PROCESS-crash durable; on POWER loss the
        un-synced tail of claim/ack progress is lost, which the
        at-least-once contract absorbs as redelivery — unlike the EVENT
        log, whose manifests/markers stay fsync'd (losing events is not
        recoverable by redelivery).  Measured cost of a per-tick fsync in a
        claim/ack delivery loop: ~1.3 ms of a ~6 ms tick, -20% delivery
        throughput.

        ``durable=True`` (the watermark maintenance path):
        fsync the delta file AND its directory entry before flipping a
        fsync'd pointer.  The hwm meta-invariant ("meta == C ⟹ state
        reflects C") makes a power loss that keeps the meta but drops a
        delta SILENT and permanent — unlike lost claim progress it is
        not redelivery-recoverable — so the per-commit watermark deltas
        must be durable BEFORE the meta advances.  Cost: the delta's and
        the pointer's fsyncs per touched shard per commit."""
        import pyarrow as pa

        with self._lock:
            version = self.state_version(table) + 1
            self._clear_unpublished(table, version)
            target = os.path.join(
                self._state_dir(table), f"v{version:08d}.delta.arrow"
            )
            tmp = f"{target}.tmp.{uuid.uuid4().hex}"
            t = pa.Table.from_pandas(self._coerce_us(pdf), preserve_index=False)
            with open(tmp, "wb") as f:
                with pa.ipc.new_file(f, t.schema) as w:
                    w.write_table(t)
                # fsync AFTER the IPC writer closed — the footer that
                # makes the file readable is written on writer close
                if durable:
                    f.flush()
                    os.fsync(f.fileno())
            os.replace(tmp, target)
            if durable:
                _fsync_dir(self._state_dir(table))
            _atomic_write(self._latest_path(table), str(version), durable=durable)
            if durable:
                # The pointer FLIP itself must be durable too.
                # On a filesystem persisting renames out of order, power
                # loss could keep a LATER consumer of this version (e.g.
                # the hwm meta, written after we return) while losing the
                # pointer flip — the next write_state_delta would then
                # re-allocate this version number and _clear_unpublished
                # would delete the surviving delta, silently orphaning the
                # durable state the meta-invariant claims exists.  One
                # more dir fsync (same directory) closes the window.
                _fsync_dir(self._state_dir(table))
            return version

    def read_state_pandas(self, table: str):
        """The current snapshot of a table written only as full snapshots
        (the registries), read with pyarrow.  Retries when a sibling's GC
        unlinks the snapshot between the pointer read and the data read."""
        import pyarrow.parquet as pq

        for attempt in range(3):
            path = os.path.join(
                self._state_dir(table), f"v{self.state_version(table):08d}"
            )
            try:
                return pq.read_table(path).to_pandas()
            except FileNotFoundError:
                if attempt == 2:
                    raise

    def write_state_pandas(self, table: str, pdf) -> int:
        """Snapshot write via pyarrow: ~ms instead of a Spark job — sized
        for the claim/ack tick where per-commit latency, not row count, is
        the cost (consumer state is small; see ledger.py scale note)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        with self._lock:
            version = self.state_version(table) + 1
            self._clear_unpublished(table, version)
            target = os.path.join(self._state_dir(table), f"v{version:08d}")
            # stage + rename: a crash mid-write leaves only a .tmp. dir
            # (reclaimed by _gc_state), never a torn v{N} a reader or the
            # GC could mistake for a complete snapshot
            tmp = f"{target}.tmp.{uuid.uuid4().hex}"
            os.makedirs(tmp, exist_ok=True)
            pq.write_table(
                pa.Table.from_pandas(self._coerce_us(pdf), preserve_index=False),
                os.path.join(tmp, "part-00000.parquet"),
            )
            os.replace(tmp, target)
            # make the rename power-loss durable before the fsync'd
            # pointer can name it (a pointer that survives a
            # snapshot that didn't leaves the table unreadable)
            _fsync_dir(self._state_dir(table))
            _atomic_write(self._latest_path(table), str(version))
            self._gc_state(table, keep=4)
            return version

    def adopt_state_dir(self, table: str, src_dir: str) -> int:
        """Adopt an externally written parquet directory (e.g. one shard
        of a Spark ``partitionBy`` output) as this table's next FULL state
        snapshot: rename into ``v{N}`` and flip the pointer — no data
        copy, no driver materialization.  The caller must be done writing
        ``src_dir`` and it must live on the same filesystem."""
        with self._lock:
            version = self.state_version(table) + 1
            self._clear_unpublished(table, version)
            base = self._state_dir(table)
            os.makedirs(base, exist_ok=True)
            target = os.path.join(base, f"v{version:08d}")
            os.replace(src_dir, target)
            _fsync_dir(base)  # same pointer-vs-snapshot ordering as above
            _atomic_write(self._latest_path(table), str(version))
            self._gc_state(table, keep=4)
            return version

    def _gc_state(self, table: str, keep: int) -> None:
        """Drop old state versions (Delta VACUUM analogue) — but never a
        full snapshot that anchors a live delta chain, and never deltas
        above it.  Everything strictly below the SECOND-newest full
        snapshot is deletable (the newest full is the active anchor; the
        previous one covers a reader that resolved ``_LATEST`` just
        before the newest full landed)."""
        base = self._state_dir(table)
        entries: list[tuple[int, str, bool]] = []  # (version, name, is_full)
        for d in os.listdir(base):
            if ".tmp." in d:
                # a crash between staging and os.replace orphans the tmp
                # file forever (no other code path deletes it);
                # reclaim after a grace period so a LIVE writer's staging
                # file is never yanked mid-rename
                p = os.path.join(base, d)
                try:
                    if time.time() - os.path.getmtime(p) > 300:
                        if os.path.isdir(p):  # staged full-snapshot dir
                            shutil.rmtree(p, ignore_errors=True)
                        else:
                            os.unlink(p)
                except OSError:
                    pass
                continue
            if d.startswith("v") and d[1:].isdigit():
                entries.append((int(d[1:]), d, True))
            elif d.startswith("v") and d.endswith(".delta.arrow"):
                core = d[1:-len(".delta.arrow")]
                if core.isdigit():
                    entries.append((int(core), d, False))
        fulls = sorted(v for v, _, is_full in entries if is_full)
        if len(fulls) < max(2, keep // 2):
            return
        floor = fulls[-max(2, keep // 2)]
        for v, name, is_full in entries:
            if v < floor:
                path = os.path.join(base, name)
                if is_full:
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    try:
                        os.unlink(path)
                    except FileNotFoundError:
                        pass


def _index_bytes(idx) -> int:
    """Deep bytes of an index's values (a MultiIndex's levels and codes),
    without its lookup hash table."""
    if isinstance(idx, pd.MultiIndex):
        return sum(map(_index_bytes, idx.levels)) + sum(c.nbytes for c in idx.codes)
    return int(pd.Series(idx, copy=False).memory_usage(deep=True, index=False))


class ShardFrame:
    """One state table's versioned pandas frame: the shard-state protocol
    shared by the locks ledger shards and the watermark shards.

    - **Layout.** The table lives in ``<table>_state``: full parquet
      snapshots ``v{N}/`` and delta files ``v{N}.delta.arrow`` (the rows
      one commit changed, plus a ``_deleted`` tombstone column), with
      ``_LATEST`` naming the current version.  A version's content never
      changes, and the pointer flip is atomic, so a reader never needs a
      lock.
    - **Load.** ``df`` is the frame indexed by ``key_cols``, and
      ``version`` the disk version it equals (-2: not loaded).  A load
      reads the disk version before the data and replays up to that
      version only, so a sibling's write in between is picked up by the
      next refresh, never recorded as loaded.  It takes the
      evict-cache plus the delta tail above its tag when the cache is
      within ``COMPACT_EVERY`` versions.  Otherwise it takes the newest
      full snapshot plus the delta tail.  A sibling's GC can unlink a
      file mid-load; the load then re-resolves ``_LATEST`` and retries.
    - **Refresh.** A loaded frame whose disk version moved replays only
      the new deltas (one small file each).  A full snapshot among them
      means a full load.
    - **Apply.** A delta replaces the rows of every key it names and
      drops the tombstoned ones.  When every key exists and none is
      tombstoned, the values are written in place by position, with no
      re-sort of the index.
    - **Write.** Callers mutate ``df`` and record the keys with
      ``touch``/``touch_deleted``; ``flush`` persists them as one delta,
      or as a full snapshot when the pending keys rival the frame
      (bulk writes) or the chain since the last snapshot would reach
      ``COMPACT_EVERY``.  The chain length is counted, not walked, while
      the frame is loaded.  ``merge`` upserts rows into a frame that need
      not be loaded: it writes the delta as is and loads only to fold a
      snapshot.  ``durable`` fsyncs each delta (see
      ``ParquetStore.write_state_delta``).
    - **Evict.** ``evict`` spills the parsed frame to a version-tagged
      Arrow IPC evict-cache and unloads it; it refuses while keys are
      pending.  The cache is best effort: no fsync, and a torn, absent or
      foreign-tagged cache is a miss.

    The frame is not thread-safe.  Cross-process writers must serialize
    outside it (the ledger's per-shard flock, the watermark's state
    lock), and call ``refresh`` under that lock before writing.
    """

    # Full-snapshot cadence: a flush that would make the delta chain this
    # long writes a full snapshot instead, bounding what a cold load
    # replays.
    COMPACT_EVERY = 64

    def __init__(self, storage, table: str, key_cols, normalize, empty,
                 durable: bool = False):
        self.storage = storage
        self.table = table
        self.key_cols = list(key_cols)
        self._normalize = normalize  # raw rows -> indexed, sorted frame
        self._empty = empty  # () -> the empty indexed frame
        self.durable = durable
        self.df = empty()
        self.version = -2
        self._chain = 0  # deltas since the last full snapshot
        self._spilled: int | None = None  # version of the last cache spill
        self._upserts: set = set()
        self._deletes: set = set()

    @property
    def resident(self) -> bool:
        return self.version > -2

    @property
    def dirty(self) -> bool:
        return bool(self._upserts or self._deletes)

    def frame_bytes(self) -> int:
        """Resident bytes of the frame's values, the index's included
        (deep: strings counted; call on demand, not per tick).  The hash
        table pandas builds on an index's first lookup is left out, so
        the figure depends on the rows held, not on the lookups run."""
        if not self.resident or self.df.empty:
            return 0
        values = self.df.memory_usage(deep=True, index=False).sum()
        return int(values) + _index_bytes(self.df.index)

    def invalidate(self) -> None:
        """Drop the frame and anything pending; the next ``refresh``
        loads from disk."""
        self.df = self._empty()
        self.version = -2
        self._chain = 0
        self._upserts.clear()
        self._deletes.clear()

    # ---- reads ---------------------------------------------------------- #

    def refresh(self) -> None:
        """Bring the frame to the disk version (load, or replay the new
        deltas).  A failure leaves the frame unloaded."""
        disk = self.storage.state_version(self.table)
        if disk == self.version:
            return
        try:
            deltas = None
            if 0 <= self.version < disk:
                deltas = self._read_deltas(self.version, disk)
            if deltas is None:
                self._load()
            else:
                for dpdf in deltas:
                    self.apply(dpdf)
                self._chain += len(deltas)
                self.version = disk
        except BaseException:
            self.invalidate()
            raise
        self._upserts.clear()
        self._deletes.clear()

    def _load(self) -> None:
        self.version = -2  # a half-built frame is never taken as a version
        for attempt in range(3):
            disk = self.storage.state_version(self.table)
            try:
                if disk < 0:  # no snapshot yet
                    self.df, self._chain = self._empty(), 0
                elif not self._load_cached(disk):
                    self._load_snapshot(disk)
            except FileNotFoundError:
                if attempt == 2:
                    raise
                continue
            self.version = disk
            return

    def _load_cached(self, disk: int) -> bool:
        hit = self._read_cache()
        if hit is None:
            return False
        pdf, v = hit
        if v > disk or disk - v > self.COMPACT_EVERY:
            return False
        tail = self._read_deltas(v, disk)
        if tail is None:
            return False
        self._set(pdf, tail)
        self._chain = disk - self._anchor(disk)
        return True

    def _load_snapshot(self, disk: int) -> None:
        base = self._anchor(disk)
        entry = self.storage._state_entry(self.table, base) if base >= 0 else None
        if entry is None:  # no anchor, or a sibling's GC unlinked it
            raise FileNotFoundError(f"{self.table}: no snapshot at v{base}")
        pdf = self._read_snapshot(entry[1])
        tail = self._read_deltas(base, disk)
        if tail is None:
            raise FileNotFoundError(f"{self.table}: broken delta chain @v{disk}")
        self._set(pdf, tail)
        self._chain = len(tail)

    def _set(self, pdf, tail) -> None:
        self.df = self._normalize(pdf) if len(pdf) else self._empty()
        for dpdf in tail:
            self.apply(dpdf)

    @staticmethod
    def _read_snapshot(path: str):
        import pyarrow.parquet as pq

        return pq.read_table(path).to_pandas()

    def _anchor(self, disk: int) -> int:
        """The newest full-snapshot version at or below ``disk`` (-1:
        none)."""
        v = disk
        while v >= 0:
            e = self.storage._state_entry(self.table, v)
            if e is not None and e[0] == "full":
                return v
            v -= 1
        return -1

    def _read_deltas(self, after: int, to: int):
        """The delta frames of versions (after, to], in order, or None
        when one of them is missing, unreadable or a full snapshot (the
        caller loads in full instead)."""
        import pyarrow as pa

        out = []
        for v in range(after + 1, to + 1):
            e = self.storage._state_entry(self.table, v)
            if e is None or e[0] != "delta":
                return None
            try:
                with pa.memory_map(e[1]) as m:
                    out.append(pa.ipc.open_file(m).read_all().to_pandas())
            except (OSError, pa.lib.ArrowInvalid):
                # unlinked by a sibling's GC since the check, or torn by a
                # power loss (the rename survives, the data pages may not)
                return None
        return out

    # ---- apply and write ------------------------------------------------ #

    def _key_index(self, pdf):
        if len(self.key_cols) == 1:
            # one key column indexes flat: MultiIndex keys would match
            # nothing and turn every upsert into a duplicate row
            return pd.Index(pdf[self.key_cols[0]], name=self.key_cols[0])
        return pd.MultiIndex.from_frame(pdf[self.key_cols])

    def apply(self, dpdf) -> None:
        """Apply one delta to ``df`` in memory (see class doc)."""
        keys = self._key_index(dpdf)
        deleted = dpdf["_deleted"].to_numpy()
        if len(self.df) and not deleted.any():
            pos = self.df.index.get_indexer(keys)
            if (pos >= 0).all():
                for j, c in enumerate(self.df.columns):
                    self.df.iloc[pos, j] = dpdf[c].to_numpy()
                return
        self.df = self.df.drop(index=keys, errors="ignore")
        up = dpdf[~deleted]
        if len(up):
            self.df = pd.concat([self.df, self._normalize(up)]).sort_index()

    def touch(self, keys) -> None:
        """Record upserted keys (tuples for a compound key) for ``flush``."""
        keys = list(keys)
        self._upserts.update(keys)
        self._deletes.difference_update(keys)

    def touch_deleted(self, keys) -> None:
        keys = list(keys)
        self._deletes.update(keys)
        self._upserts.difference_update(keys)

    def _positions(self, keys) -> "list[int]":
        """Positions in ``df`` of those of ``keys`` it holds."""
        pdf = pd.DataFrame(list(keys), columns=self.key_cols)
        pos = self.df.index.get_indexer(self._key_index(pdf))
        return pos[pos >= 0].tolist()

    def _delta_due(self, n: int) -> bool:
        """The write rule: may a commit of ``n`` keys go out as a delta?
        It needs a snapshot to anchor the chain, fewer keys than half the
        frame (at least 1024), and a chain below ``COMPACT_EVERY``."""
        if self.resident:
            anchored, chain = self.version >= 0, self._chain
        else:  # not loaded: walk the chain on disk
            disk = self.storage.state_version(self.table)
            base = self._anchor(disk)
            anchored, chain = base >= 0, disk - base
        return (
            anchored
            and 0 < n < max(1024, len(self.df) // 2)
            and chain + 1 < self.COMPACT_EVERY
        )

    def _write_delta(self, delta) -> None:
        v = self.storage.write_state_delta(self.table, delta, durable=self.durable)
        if self.resident:
            self.version = v
            self._chain += 1

    def _write_snapshot(self) -> None:
        self.version = self.storage.write_state_pandas(
            self.table, self.df.reset_index()
        )
        self._chain = 0

    def flush(self) -> None:
        """Persist the touched keys of the loaded frame (see class doc)."""
        if self._delta_due(len(self._upserts) + len(self._deletes)):
            parts = []
            if self._upserts:
                up = self.df.take(self._positions(sorted(self._upserts))).reset_index()
                up["_deleted"] = False  # in place: assign() would copy
                parts.append(up)
            if self._deletes:
                dead = pd.DataFrame(sorted(self._deletes), columns=self.key_cols)
                for c, dt in self.df.dtypes.items():  # filler values
                    dead[c] = None if dt == object else np.zeros(len(dead), dt)
                dead["_deleted"] = True
                parts.append(dead)
            self._write_delta(pd.concat(parts, ignore_index=True))
        else:
            self._write_snapshot()
        self._upserts.clear()
        self._deletes.clear()

    def merge(self, rows) -> None:
        """Upsert ``rows`` (key columns as columns) as one commit, loaded
        or not: the rows are the delta as they are, and an unloaded frame
        loads only to fold a snapshot, then unloads again."""
        delta = self._normalize(rows).reset_index()
        delta["_deleted"] = False
        loaded = self.resident
        if loaded:
            self.refresh()
        if self._delta_due(len(delta)):
            self._write_delta(delta)
            if loaded:
                self.apply(delta)
            return
        self.refresh()
        self.apply(delta)
        self._write_snapshot()
        if not loaded:
            self.invalidate()

    # ---- evict-cache ---------------------------------------------------- #

    def _cache_path(self) -> str:
        return os.path.join(self.storage._state_dir(self.table), "_EVICT.arrow")

    def _read_cache(self):
        """``(pdf, tagged_version)``, or None for an absent, torn or
        foreign cache."""
        import pyarrow as pa

        try:
            with pa.memory_map(self._cache_path()) as m:
                t = pa.ipc.open_file(m).read_all()
            v = int((t.schema.metadata or {}).get(b"state_version", b"?"))
        except Exception:  # noqa: BLE001 — any unreadable cache is a miss
            return None
        return t.to_pandas(), v

    def evict(self) -> None:
        """Unload the frame, spilling it to the evict-cache first (see
        class doc).  A frame with pending keys is kept: evicting it would
        drop unflushed writes."""
        if self.dirty:
            return
        if self.version >= 0 and len(self.df) and self._spilled != self.version:
            import pyarrow as pa

            try:
                t = pa.Table.from_pandas(self.df.reset_index(), preserve_index=False)
                t = t.replace_schema_metadata(
                    {b"state_version": str(self.version).encode()}
                )
                path = self._cache_path()
                tmp = f"{path}.tmp.{os.getpid()}"
                with open(tmp, "wb") as f, pa.ipc.new_file(f, t.schema) as w:
                    w.write_table(t)
                os.replace(tmp, path)  # atomic; no fsync: cache only
                self._spilled = self.version
            except Exception:  # noqa: BLE001 — cache only, never blocks evict
                pass
        self.invalidate()


class ShardFrames:
    """A list of ``ShardFrame``s under one LRU residency budget:
    ``max_resident`` loaded frames (None: no limit).  ``use`` marks a
    shard used; ``evict_over_budget`` unloads the least recently used
    frames beyond the budget and is called outside any shard's write."""

    def __init__(self, shards, max_resident: int | None = None):
        self.shards = shards
        self.max_resident = max_resident
        self.clock = 0
        self._last_use: dict[int, int] = {}

    def use(self, k: int):
        self.clock += 1
        self._last_use[k] = self.clock
        return self.shards[k]

    def used_since(self, clock: int) -> "list[int]":
        return [k for k, u in self._last_use.items() if u > clock]

    def evict_over_budget(self) -> None:
        if self.max_resident is None:
            return
        resident = [k for k, s in enumerate(self.shards) if s.resident]
        over = len(resident) - self.max_resident
        if over <= 0:
            return
        resident.sort(key=lambda k: self._last_use.get(k, -1))
        for k in resident[:over]:
            self.shards[k].evict()

    def resident_shards(self) -> int:
        return sum(1 for s in self.shards if s.resident)

    def resident_bytes(self) -> int:
        """Driver-resident bytes across the loaded frames (deep; the
        figure BASELINE.md's scale-ceiling table pins)."""
        return sum(s.frame_bytes() for s in self.shards)
