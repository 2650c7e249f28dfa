"""ShardedHwm — sharded, paged, disk-backed per-partition high-watermark
and stream-tail index.

Each row maps ``decider_id`` to the partition's max ``offset``, the
``final`` flag of that last event (``offset_final``), and the last
event's ``decider`` and ``event_id``.  The first two serve the claim
path; the tail columns let ``EventStore.append_batch`` decide a small
append on a stream tail without scanning the log (the ``decider_index``
probe analogue, /root/reference/schema.sql:56).

Why this exists: the claim path needs, per partition, the
log's max offset + final flag ("the derived half of the reference's T6
dual-write", /root/reference/schema.sql:240-263).  As ONE driver-resident
pandas frame that is 76 B/partition, fully resident once any claim
materializes it (at 10⁸ partitions ≈ 7.6 GB).  This module gives the
watermark the SAME treatment as the locks ledger:

- **Sharded by ``crc32(decider_id) % n_shards``** — the exact routing of
  ``ShardedLocksLedger`` (verified Spark ``F.crc32`` ≡ ``zlib.crc32``), so
  ledger shard k's eligibility scan needs ONLY hwm shard k: a
  claim tick touches one ledger shard + one hwm shard, never the whole
  table.
- **Disk-backed in the ParquetStore state layout** (``hwm_s{k:02d}_state``
  snapshots + per-commit deltas + a ``hwm_META.json`` validity tag): an
  evicted shard reloads with a pyarrow read, NOT a Spark aggregation over
  the log, and a sibling consumer PROCESS freeloads the committer's
  maintained watermark instead of recomputing the full aggregate after
  every external commit.
- **LRU budget**: the store passes the ledger's ``max_resident`` (set
  by the pinned shard count, see ``ShardedLocksLedger``), so a paged
  layout keeps at most that many hwm shard frames resident too — total
  driver residency O(active shards) for ledger AND hwm; ``None`` keeps
  every shard resident.

Consistency contract: ``hwm_META.json`` holds the PUBLISHED log commit id
the state tables collectively reflect; the invariant "meta == C ⟹ every
shard table equals the watermark of commit C" is maintained under a
dedicated ProcessLock (``hwm_STATE.lock``) by exactly two writers —
``merge_batch`` (the committer folding its own batch's aggregate, one tiny
delta per touched shard) and ``_rebuild`` (a full Spark recompute +
partitioned write, run by whichever process first finds the meta stale).
``merge_batch`` refuses to advance a stale meta (it cannot know what the
missing commits touched), so the invariant can never be silently violated;
readers whose view races a sibling's publish by microseconds may serve a
slightly NEWER watermark than their log view — the claim path tolerates
that (a claim with no readable event is released immediately, see
``EventStore.stream_events``).  The append path does not: it reads the
tails only under the committer flock, when the meta equals the published
commit (``sync_exact``).

Scale: rebuild is one shuffle + a partitioned parquet write (no
O(#partitions) driver collect — the old design's hidden spike); steady
single-committer ingest+deliver costs one arrow delta write per touched
shard per commit and zero reloads; per-shard chains compact every
``COMPACT_EVERY`` deltas, bounding cold reloads.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from fstore_sql_spark.ledger import ProcessLock, shard_of
from fstore_sql_spark.storage import _fsync_dir, apply_state_delta

_HWM_COLS = ["decider_id", "offset", "offset_final", "decider", "event_id"]
# Layout version of the state tables, recorded in ``hwm_META.json``.  A
# meta with another (or no) format reads as stale, so a store written
# with the old three-column layout rebuilds once.
HWM_FORMAT = 2


def _empty_hwm() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "decider_id": pd.Series(dtype="object"),
            "offset": pd.Series(dtype="int64"),
            "offset_final": pd.Series(dtype="bool"),
            "decider": pd.Series(dtype="object"),
            "event_id": pd.Series(dtype="object"),
        }
    ).set_index("decider_id")


def _norm_hwm(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[_HWM_COLS].copy()
    if str(pdf["offset"].dtype) != "int64":
        pdf["offset"] = pdf["offset"].astype("int64")
    if str(pdf["offset_final"].dtype) != "bool":
        pdf["offset_final"] = pdf["offset_final"].astype("bool")
    return pdf.set_index("decider_id").sort_index()


def clear_hwm_layout(storage) -> None:
    """Remove the persisted watermark (meta + every ``hwm_s*_state``
    table + evict caches).  Called by the ledger's shard-count RESIZE:
    hwm shards share the locks routing (``crc32 % n_shards``), so a
    resized store's old hwm layout is mis-routed — and the watermark is
    DERIVED, so deleting it is always safe (the next claim path rebuilds
    from the log at the new count)."""
    try:
        os.unlink(os.path.join(storage.root, "hwm_META.json"))
    except FileNotFoundError:
        pass
    for d in os.listdir(storage.root):
        if d.startswith("hwm_s") and d.endswith("_state"):
            shutil.rmtree(os.path.join(storage.root, d), ignore_errors=True)


class ShardedHwm:
    """See module doc.  All in-memory access is serialized by the store's
    commit lock (one ShardedHwm per EventStore); cross-process safety is
    the ``hwm_STATE.lock`` flock + atomic snapshot/meta publishes."""

    # per-shard delta-chain length that triggers a full-snapshot fold
    COMPACT_EVERY = 64

    def __init__(self, storage, spark, n_shards: int, events_fn, max_resident=None):
        self.storage = storage
        self.spark = spark
        self.n_shards = n_shards
        self._events_fn = events_fn  # () -> the store's lazy events handle
        self.max_resident = max_resident
        self._frames: dict[int, pd.DataFrame] = {}
        self._versions: dict[int, int] = {}
        self._spilled: dict[int, int] = {}  # shard -> evict-cache version
        self._use_clock = 0
        self._last_use: dict[int, int] = {}
        # the published commit id our STATE VIEW reflects; None = not
        # synced since this instance opened (or since ``invalidate``)
        self._synced_commit: "int | None" = None
        self._meta_path = os.path.join(storage.root, "hwm_META.json")
        self._plock = ProcessLock(os.path.join(storage.root, "hwm_STATE.lock"))
        # observability: how often the expensive path ran (tests assert
        # steady-state ingest+deliver does NOT re-aggregate the log)
        self.rebuild_count = 0

    def _table(self, k: int) -> str:
        return f"hwm_s{k:02d}"

    # ---- meta ---------------------------------------------------------- #

    def _read_meta(self) -> "int | None":
        try:
            with open(self._meta_path, encoding="utf-8") as f:
                meta = json.load(f)
            if meta.get("format") != HWM_FORMAT:
                return None
            return int(meta["commit_id"])
        except (OSError, ValueError, KeyError, AttributeError):
            return None

    def _write_meta(self, commit_id: int) -> None:
        # Durable: the meta is the validity tag of the state
        # tables ("meta == C ⟹ shards reflect C") and is always written
        # AFTER the durable shard deltas — fsync the content and the
        # dirent so a power loss can only lose the meta ADVANCE (next
        # reader sees a stale meta and rebuilds: safe), never persist a
        # torn meta or reorder it ahead of anything.
        tmp = f"{self._meta_path}.tmp.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"commit_id": int(commit_id), "format": HWM_FORMAT}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._meta_path)
        _fsync_dir(os.path.dirname(self._meta_path))

    # ---- lifecycle ----------------------------------------------------- #

    def sync(self, commit_id: int) -> None:
        """Make the watermark view reflect published commit ``commit_id``
        (the store's ``_seen_commit_id`` — the same snapshot its
        ``events()`` handle reads).  Fast path: already synced — zero
        IO.  Sibling-maintained path: meta matches on disk — drop only
        the shards whose state version moved (they reload lazily).  Stale path: one
        process rebuilds from the log under the hwm lock; everyone else
        blocks briefly on the flock, then reloads."""
        commit_id = int(commit_id)
        if self._synced_commit == commit_id:
            return
        meta = self._read_meta()
        if meta is not None and meta >= commit_id:
            # disk is current (or microseconds NEWER than our log view —
            # tolerated, see module doc): keep resident shards whose
            # version didn't move, drop the rest
            self._drop_moved_shards()
            self._synced_commit = commit_id
            return
        with self._plock.held(timeout_s=600):
            meta = self._read_meta()
            if meta is None or meta < commit_id:
                self._rebuild(commit_id)
        self._frames.clear()
        self._versions.clear()
        self._synced_commit = commit_id

    def sync_exact(self, commit_id: int) -> bool:
        """``sync``, then True only when the persisted watermark reflects
        exactly ``commit_id``: the condition for trusting it as the tail
        index.  ``sync`` tolerates a meta newer than the caller's log
        view; an append's validation must not, since a newer tail would
        decide the batch against events its log view lacks.  Called
        under the committer flock, where no commit can land in between."""
        self.sync(commit_id)
        return self._read_meta() == int(commit_id)

    def _drop_moved_shards(self) -> None:
        for k in list(self._frames):
            if self.storage.state_version(self._table(k)) != self._versions.get(k):
                self._frames.pop(k, None)
                self._versions.pop(k, None)

    def invalidate(self) -> None:
        """Force re-validation against the meta on next access."""
        self._frames.clear()
        self._versions.clear()
        self._synced_commit = None

    def _rebuild(self, commit_id: int) -> None:
        """Full recompute (called under the hwm lock): ONE Spark
        aggregation over the log, written as a shard-partitioned parquet
        staging and ADOPTED dir-by-dir into the state layout — the
        watermark never funnels through the driver (a ``toPandas``
        materialization would spike O(#partitions) driver RSS).
        Commit 0 is the empty log (every commit holds at least one row),
        so its watermark is written as empty snapshots with no Spark job."""
        self.rebuild_count += 1
        if int(commit_id) == 0:
            for k in range(self.n_shards):
                self.storage.write_state_pandas(
                    self._table(k), _empty_hwm().reset_index()
                )
            self._write_meta(0)
            return
        ev = self._events_fn()
        shard = F.pmod(
            F.crc32(F.col("decider_id").cast("binary")), F.lit(self.n_shards)
        ).cast("int")
        hwm = (
            ev.groupBy("decider_id")
            .agg(
                F.max("offset").alias("offset"),
                F.max_by("final", "offset").alias("offset_final"),
                F.max_by("decider", "offset").alias("decider"),
                F.max_by("event_id", "offset").alias("event_id"),
            )
            .withColumn("shard", shard)
        )
        staging = os.path.join(self.storage.root, f"hwm_REBUILD.tmp.{os.getpid()}")
        shutil.rmtree(staging, ignore_errors=True)
        try:
            (
                hwm.repartition(self.n_shards, "shard")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(staging)
            )
            for k in range(self.n_shards):
                src = os.path.join(staging, f"shard={k}")
                if os.path.isdir(src):
                    self.storage.adopt_state_dir(self._table(k), src)
                else:  # no partitions routed here: explicit empty snapshot
                    self.storage.write_state_pandas(
                        self._table(k), _empty_hwm().reset_index()
                    )
            self._write_meta(commit_id)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # ---- committer incremental maintenance ----------------------------- #

    def merge_batch(self, batch: pd.DataFrame, prev_commit: int, new_commit: int) -> None:
        """Fold one committed batch's per-partition aggregate (index
        decider_id; the other ``_HWM_COLS`` as columns) into the
        watermark: in-memory merge for resident shards + one arrow delta
        per touched shard + the meta bump — so steady ingest+deliver never
        re-aggregates the log.  Refuses (and marks itself stale) when the
        on-disk meta isn't exactly ``prev_commit``: advancing a meta whose
        missing commits this batch doesn't cover would break the
        meta-invariant (module doc).  The one exception is a store's first
        commit (``prev_commit == 0``): the watermark of the empty log is
        written on the spot, so a store is indexed from its birth."""
        if batch.empty:
            # a sibling's rebuild can hold the lock for a full Spark job
            with self._plock.held(timeout_s=600):
                if self._read_meta() == int(prev_commit):
                    if self._synced_commit != int(prev_commit):
                        self._drop_moved_shards()
                    self._write_meta(new_commit)
                    self._synced_commit = int(new_commit)
                    return
            self.invalidate()
            return
        pdf = batch.reset_index()
        shards = pdf["decider_id"].map(lambda d: shard_of(d, self.n_shards))
        with self._plock.held(timeout_s=600):
            if int(prev_commit) == 0 and self._read_meta() is None:
                self._frames.clear()
                self._versions.clear()
                self._rebuild(0)
            if self._read_meta() != int(prev_commit):
                self.invalidate()
                return
            if self._synced_commit != int(prev_commit):
                # committer alternation: a SIBLING published
                # commits since our last sync — its deltas moved shard
                # versions our resident frames predate.  Folding this
                # batch into such a frame would mark stale content
                # current (and the compact branch below would persist it
                # as the snapshot, erasing the sibling's rows on disk).
                # Drop every frame whose disk version moved; they reload
                # lazily with the sibling's deltas included.
                self._drop_moved_shards()
            for k, part in pdf.groupby(shards):
                k = int(k)
                table = self._table(k)
                rows = part[_HWM_COLS].copy()
                rows["_deleted"] = False
                cur = self.storage.state_version(table)
                # durable=True: the meta-invariant makes a power loss
                # that keeps the meta but drops a delta silently
                # permanent — see write_state_delta's doc
                v = self.storage.write_state_delta(table, rows, durable=True)
                if k in self._frames:
                    if self._versions.get(k) == cur:
                        add = _norm_hwm(part)
                        kept = self._frames[k].drop(
                            index=add.index, errors="ignore"
                        )
                        self._frames[k] = pd.concat([kept, add]).sort_index()
                        self._versions[k] = v
                    else:  # belt-and-braces for any per-shard race
                        self._frames.pop(k, None)
                        self._versions.pop(k, None)
                if self.storage.state_delta_chain(table) >= self.COMPACT_EVERY:
                    frame = self._frames.get(k)
                    if frame is None:
                        frame = self._load_frame_or_repair(k, int(new_commit))
                    v2 = self.storage.write_state_pandas(
                        table, frame.reset_index()[_HWM_COLS]
                    )
                    if k in self._frames:  # keep frame+version paired
                        self._frames[k] = frame
                        self._versions[k] = v2
            self._write_meta(new_commit)
        self._synced_commit = int(new_commit)
        self._evict_over_budget()

    # ---- paging -------------------------------------------------------- #

    def _note_use(self, k: int) -> None:
        self._use_clock += 1
        self._last_use[k] = self._use_clock

    def _evict_over_budget(self) -> None:
        if self.max_resident is None:
            return
        resident = list(self._frames)
        over = len(resident) - self.max_resident
        if over <= 0:
            return
        resident.sort(key=lambda k: self._last_use.get(k, -1))
        for k in resident[:over]:
            self._spill(k)
            self._frames.pop(k, None)
            self._versions.pop(k, None)

    # ---- evict-cache (same pattern as LocksLedger.evict): spill the
    # PARSED frame as version-tagged Arrow IPC so a re-visit (fairness
    # probe, ack routing, sibling reload) pays one mmap read + the delta
    # tail since the tag, not a parquet snapshot + full chain replay.
    # The IO protocol lives in storage.write/read_evict_cache (shared
    # with the locks ledger); only the replay semantics are ours. ------- #

    def _spill(self, k: int) -> None:
        f = self._frames.get(k)
        v = self._versions.get(k)
        if f is None or v is None or v < 0 or not len(f):
            return
        if self._spilled.get(k) == v:
            return  # unchanged since the last spill
        try:
            self.storage.write_evict_cache(
                self._table(k), f.reset_index(), v, tag=b"hwm_version"
            )
            self._spilled[k] = v
        except Exception:  # noqa: BLE001 — cache only; snapshot path remains
            pass

    def _try_cache(self, k: int, disk: int) -> "pd.DataFrame | None":
        hit = self.storage.read_evict_cache(self._table(k), tag=b"hwm_version")
        if hit is None:
            return None
        pdf, v = hit
        if v > disk or disk - v > self.COMPACT_EVERY:
            return None
        if v < disk:
            deltas = self.storage.read_state_deltas(self._table(k), v, disk)
            if deltas is None:
                return None
            for dpdf in deltas:
                pdf = apply_state_delta(pdf, dpdf, ["decider_id"])
        return _norm_hwm(pdf) if len(pdf) else _empty_hwm()

    def resident_shards(self) -> int:
        return len(self._frames)

    def resident_bytes(self) -> int:
        """Driver-resident watermark bytes across loaded shard frames
        (deep — strings counted); the number BASELINE.md's scale-ceiling
        table pins."""
        return sum(
            int(f.memory_usage(deep=True).sum())
            for f in self._frames.values()
            if len(f)
        )

    # ---- reads --------------------------------------------------------- #

    def _load_frame(self, k: int) -> "tuple[pd.DataFrame, int]":
        """Load shard k from the state layout; returns ``(frame, version)``
        where ``version`` is the disk version read BEFORE the data
        (recording ``state_version()`` re-read AFTER the load
        could overstate — a sibling delta landing in between would mark a
        stale frame current and ``_spill`` would tag the evict-cache with
        the overstated version.  Reading the version first errs in the
        safe direction: content can only be NEWER than the tag, so
        ``_drop_moved_shards`` at worst reloads)."""
        table = self._table(k)
        disk = self.storage.state_version(table)
        if disk < 0:
            return _empty_hwm(), disk
        cached = self._try_cache(k, disk)
        if cached is not None:
            return cached, disk
        pdf = self.storage.read_state_pandas(table, key_cols=["decider_id"])
        return (_norm_hwm(pdf) if len(pdf) else _empty_hwm()), disk

    def _load_frame_or_repair(self, k: int, commit_id: int) -> pd.DataFrame:
        """``merge_batch``'s compact-fold load: called with ``_plock``
        already HELD (ProcessLock is non-reentrant, so repair must call
        ``_rebuild`` directly, never ``sync``).  An unreadable shard —
        power loss tearing a delta, a corrupt snapshot
        — raises out of ``read_state_pandas``; the watermark is DERIVED,
        so the log is always the authority: rebuild everything at
        ``commit_id`` (the batch being folded is already in the published
        log at that commit) and retry the read."""
        try:
            frame, _v = self._load_frame(k)
            return frame
        except Exception:  # noqa: BLE001 — any unreadable state: rebuild
            self._frames.clear()
            self._versions.clear()
            self._rebuild(int(commit_id))
            frame, _v = self._load_frame(k)
            return frame

    def for_shard(self, k: int) -> pd.DataFrame:
        """Shard k's watermark frame (index decider_id; columns offset,
        offset_final) — the claim path's per-shard read.  Loads from the
        state layout on a miss (repairing an unreadable shard by rebuild
        under the hwm lock — the read-side twin of
        ``_load_frame_or_repair``); LRU-evicts over budget."""
        f = self._frames.get(k)
        if f is None:
            try:
                f, v = self._load_frame(k)
            except Exception:  # noqa: BLE001 — torn state: repair
                with self._plock.held(timeout_s=600):
                    try:
                        f, v = self._load_frame(k)
                    except Exception:  # noqa: BLE001 — still broken
                        at = self._synced_commit
                        if at is None:
                            at = self._read_meta() or 0
                        self._frames.clear()
                        self._versions.clear()
                        self._rebuild(int(at))
                        f, v = self._load_frame(k)
            self._frames[k] = f
            self._versions[k] = v
        self._note_use(k)
        self._evict_over_budget()
        return f

    def full(self) -> pd.DataFrame:
        """The whole watermark as one sorted frame — the O(#partitions)
        read surface behind ``locks()`` and the unpaged T7 backfill (the
        RESULT is full-table by contract; resident shard frames still
        respect the budget via the rolling evict in ``for_shard``).

        .. warning:: The returned concat itself is O(#partitions) DRIVER
           memory at the moment of use (~76 B/partition: ~7.6 GB at 10⁸
           partitions) regardless of the paging budget.  It backs ops/
           debug surfaces only; hot paths read ``for_shard``/``lookup``,
           and shard-batched tooling should iterate
           ``EventStore.locks_iter()`` instead."""
        parts = [self.for_shard(k) for k in range(self.n_shards)]
        parts = [p for p in parts if len(p)]
        if not parts:
            return _empty_hwm()
        return pd.concat(parts).sort_index()

    def lookup(self, decider_ids: "list[str]") -> pd.DataFrame:
        """Watermark rows for specific partitions — touches only their
        shards (the RETURNING-clause path on a paged store must not fault
        in the whole table)."""
        by_shard: dict[int, list[str]] = {}
        for d in decider_ids:
            by_shard.setdefault(shard_of(d, self.n_shards), []).append(d)
        parts = []
        for k, ids in by_shard.items():
            f = self.for_shard(k)
            if len(f):
                hit = f.loc[f.index.intersection(ids)]
                if len(hit):
                    parts.append(hit)
        if not parts:
            return _empty_hwm()
        return pd.concat(parts).sort_index()
