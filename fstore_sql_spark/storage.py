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

Scale notes (100 TB): append batches are repartitioned by ``decider_id``
before write so row groups are clustered by the partition key; parquet
min/max stats then prune ``get_events``-style point lookups the way the
reference's ``decider_index`` B-tree does (/root/reference/schema.sql:56).
State tables (views, consumer locks) are orders of magnitude smaller than
the log and always broadcastable.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LATEST = "_LATEST"
_MANIFEST = "_MANIFEST.json"


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


def apply_state_delta(pdf, dpdf, key_cols: list[str]):
    """Apply one state delta to an unindexed frame: rows whose key appears
    in the delta are replaced (or, under the ``_deleted`` tombstone,
    dropped), everything else is untouched.  Deltas are small — the cost
    is one pass over ``pdf`` per delta."""
    import pandas as pd

    keyed = pdf.set_index(key_cols)
    # A single key column indexes as a FLAT Index (set_index semantics);
    # dropping MultiIndex keys from it silently matches nothing and turns
    # the upsert into a duplicate append (the hwm tables' one-column key
    # hit this) — build the matching index kind.
    if len(key_cols) == 1:
        keys = pd.Index(dpdf[key_cols[0]])
    else:
        keys = pd.MultiIndex.from_frame(dpdf[key_cols])
    keyed = keyed.drop(index=keys, errors="ignore")
    up = dpdf[~dpdf["_deleted"]].drop(columns=["_deleted"]).set_index(key_cols)
    if len(up):
        keyed = pd.concat([keyed, up])
    return keyed.reset_index()


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
        """Append a committed batch.  ``cluster_by`` repartitions so row
        groups are clustered on the partition key (data-skipping analogue of
        the reference's B-tree indexes)."""
        if cluster_by is not None:
            df = df.repartition(cluster_by)
        df.write.mode("append").parquet(self._log_dir(table))

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
        unreadable.  ``_temporary/`` and ``_quarantine/`` are
        subdirectories, so they are never listed.

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
        """Remove a dead Spark job's ``_temporary`` staging under the
        current log generation.  Required during quarantine recovery: the
        FileOutputCommitter's next job commit would otherwise sweep the
        dead job's already-task-committed directories into the log,
        resurrecting part of a quarantined batch."""
        tmp = os.path.join(self._log_dir(table), "_temporary")
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
    # pyarrow fast path (no Spark job) — the LocksLedger hot path.
    # Same snapshot layout, so Spark reads and pyarrow reads/writes are
    # interchangeable per version; pyarrow ignores _SUCCESS/_metadata
    # (default ignore_prefixes) so Spark-written snapshots load cleanly.
    # ------------------------------------------------------------------ #

    # State-snapshot layout, extended: a version is either a FULL
    # snapshot directory ``v{N}`` or a DELTA file ``v{N}.delta.arrow``
    # holding only the rows changed by one commit (plus a ``_deleted``
    # tombstone column).  ``_LATEST`` still names the current version.
    # Rationale: the locks ledger flushes on EVERY claim/ack tick; a full
    # snapshot rewrite is O(#lock rows) per ack, which a 10M-partition
    # deployment cannot pay.  Deltas make
    # the per-tick flush O(#touched rows); periodic full snapshots
    # (ledger.COMPACT_EVERY) bound the read-side chain replay.  Spark
    # ``read_state`` is only ever pointed at all-full-snapshot tables
    # (views/deciders/projections); the delta-aware readers below are the
    # ledger's pyarrow path.

    def _state_entry(self, table: str, version: int) -> tuple[str, str] | None:
        """('full'|'delta', path) for one version, None if absent.  Deltas
        are Arrow IPC files (``.delta.arrow``): ~5-10x cheaper to write
        and read than parquet at per-commit sizes, and only the ledger's
        pyarrow path ever touches them (Spark reads full snapshots only)."""
        full = os.path.join(self._state_dir(table), f"v{version:08d}")
        if os.path.isdir(full):
            return ("full", full)
        if os.path.exists(f"{full}.delta.arrow"):
            return ("delta", f"{full}.delta.arrow")
        return None

    @staticmethod
    def _read_delta_pandas(path: str):
        import pyarrow as pa

        with pa.memory_map(path) as m:
            return pa.ipc.open_file(m).read_all().to_pandas()

    def latest_full_state_version(self, table: str) -> int:
        v = self.state_version(table)
        while v >= 0:
            e = self._state_entry(table, v)
            if e is not None and e[0] == "full":
                return v
            v -= 1
        return -1

    def state_delta_chain(self, table: str) -> int:
        """Number of delta versions since the last full snapshot."""
        return self.state_version(table) - self.latest_full_state_version(table)

    @staticmethod
    def _coerce_us(pdf):
        """Timestamps as micros (Spark TimestampType round-trip).  No-op
        without a copy when dtypes are already us-resolution — the hot
        delta-flush path."""
        off = [
            c
            for c in pdf.columns
            if str(pdf[c].dtype).startswith("datetime64")
            and str(pdf[c].dtype) != "datetime64[us]"
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
        recoverable by redelivery).  Measured cost of per-tick fsync on
        the b3 path: ~1.3 ms of a ~6 ms tick, -20% delivery throughput.

        ``durable=True`` (the watermark maintenance path):
        fsync the delta file AND its directory entry before flipping a
        fsync'd pointer.  The hwm meta-invariant ("meta == C ⟹ state
        reflects C") makes a power loss that keeps the meta but drops a
        delta SILENT and permanent — unlike lost claim progress it is
        not redelivery-recoverable — so the per-commit watermark deltas
        must be durable BEFORE the meta advances.  Cost: ~1 fsync per
        touched shard per commit, invisible next to the batch's parquet
        write."""
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

    def read_state_deltas(self, table: str, after_version: int, to_version: int):
        """The delta pdfs for versions (after_version, to_version], in
        order — or None if any of them is missing or a full snapshot
        (caller falls back to a full reload).  This is the incremental
        cross-process reload path: a sibling that advanced the state by K
        small commits costs K tiny file reads, not a snapshot scan."""
        import pyarrow as pa

        out = []
        for v in range(after_version + 1, to_version + 1):
            e = self._state_entry(table, v)
            if e is None or e[0] != "delta":
                return None
            try:
                out.append(self._read_delta_pandas(e[1]))
            except FileNotFoundError:
                # a sibling's full-snapshot GC unlinked the delta between
                # the existence check and the open (lock-free readers are
                # allowed here) — fall back to a full reload
                return None
            except (OSError, pa.lib.ArrowInvalid):
                # unreadable/corrupt delta (power loss can tear a
                # non-durable delta even though writers stage+rename —
                # the rename survives the crash, the data pages may not):
                # report the chain broken instead of crashing the claim
                # path; callers fall back to a snapshot read or, for
                # DERIVED tables (hwm), a rebuild from the log
                return None
        return out

    # ---- evict-cache: version-tagged Arrow IPC spill of a PARSED
    # state frame, shared by the paged locks ledger and watermark (one
    # copy of the protocol, so the two sides cannot drift apart).  The
    # cache is best-effort
    # only — atomic rename, no fsync, torn/absent/foreign caches are
    # simply misses; the snapshot+delta chain stays the durable truth.
    # Each owner passes its own ``tag`` key so a foreign writer's cache
    # (or a pre-rename layout) can never be mistaken for ours, and keeps
    # its own delta-tail replay semantics on top of the returned frame.

    def write_evict_cache(self, table: str, pdf, version: int, tag: bytes) -> None:
        """Spill ``pdf`` (index already reset) tagged with the state
        ``version`` it reflects.  Raises on failure — callers treat the
        spill as optional and catch."""
        import pyarrow as pa

        t = pa.Table.from_pandas(pdf, preserve_index=False)
        t = t.replace_schema_metadata({tag: str(int(version)).encode()})
        path = os.path.join(self._state_dir(table), "_EVICT.arrow")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f, pa.ipc.new_file(f, t.schema) as w:
            w.write_table(t)
        os.replace(tmp, path)  # atomic; no fsync — cache only

    def read_evict_cache(self, table: str, tag: bytes):
        """-> ``(pdf, tagged_version)`` or ``None`` (absent / torn /
        foreign tag).  The caller validates the tag window against the
        current disk version and replays the delta tail above it."""
        import pyarrow as pa

        path = os.path.join(self._state_dir(table), "_EVICT.arrow")
        try:
            with pa.memory_map(path) as m:
                t = pa.ipc.open_file(m).read_all()
            v = int((t.schema.metadata or {}).get(tag, b"?"))
        except Exception:  # noqa: BLE001 — any unreadable cache is a miss
            return None
        return t.to_pandas(), v

    def read_state_pandas(self, table: str, key_cols: list[str] | None = None):
        """Reconstruct the current state: latest full snapshot + replay of
        the delta chain above it.  ``key_cols`` is required to apply
        deltas (upsert-by-key semantics); tables written only as full
        snapshots never need it."""
        import pyarrow.parquet as pq

        last_err: Exception | None = None
        for _attempt in range(3):  # GC by a sibling can unlink mid-read;
            try:                   # re-resolving _LATEST always converges
                version = self.state_version(table)
                entry = self._state_entry(table, version)
                if entry is not None and entry[0] == "full":
                    return pq.read_table(entry[1]).to_pandas()
                base_v = self.latest_full_state_version(table)
                if base_v < 0:
                    raise FileNotFoundError(f"no full state snapshot for {table}")
                if key_cols is None:
                    raise ValueError(
                        f"{table} has a delta chain; key_cols required"
                    )
                base_entry = self._state_entry(table, base_v)
                if base_entry is None:
                    # sibling GC unlinked the anchor between the version
                    # scan and this read — retry re-resolves _LATEST
                    raise FileNotFoundError(f"{table} anchor v{base_v} GC'd")
                pdf = pq.read_table(base_entry[1]).to_pandas()
                deltas = self.read_state_deltas(table, base_v, version)
                if deltas is None:
                    raise FileNotFoundError(
                        f"broken delta chain for {table} @v{version}"
                    )
                for dpdf in deltas:
                    pdf = apply_state_delta(pdf, dpdf, key_cols)
                return pdf.reset_index(drop=True)
            except FileNotFoundError as e:
                last_err = e
        raise last_err

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
