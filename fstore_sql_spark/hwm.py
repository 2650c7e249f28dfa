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
- **Disk-backed, paged shard frames**: each shard is a
  ``storage.ShardFrame`` (``hwm_s{k:02d}_state``; its docstring holds the
  snapshot + delta + evict-cache protocol) under the ledger's residency
  budget, so an evicted shard reloads with a pyarrow read, not a Spark
  aggregation over the log, and a sibling consumer PROCESS freeloads
  the committer's maintained watermark instead of recomputing it after
  every external commit.  ``hwm_META.json`` tags which log commit the
  shards reflect.

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
O(#partitions) driver collect); steady single-committer ingest+deliver
costs one durable arrow delta per touched shard per commit and zero
reloads.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from fstore_sql_spark.ledger import ProcessLock, shard_of
from fstore_sql_spark.storage import ShardFrame, ShardFrames, _fsync_dir

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


class ShardedHwm(ShardFrames):
    """See module doc.  All in-memory access is serialized by the store's
    commit lock (one ShardedHwm per EventStore); cross-process safety is
    the ``hwm_STATE.lock`` flock + atomic snapshot/meta publishes."""

    def __init__(self, storage, spark, n_shards: int, events_fn, max_resident=None):
        super().__init__(
            [
                # durable deltas: the meta-invariant makes a power loss
                # that keeps the meta but drops a delta silently
                # permanent (see ParquetStore.write_state_delta)
                ShardFrame(storage, f"hwm_s{k:02d}", ["decider_id"],
                           _norm_hwm, _empty_hwm, durable=True)
                for k in range(n_shards)
            ],
            max_resident,
        )
        self.storage = storage
        self.spark = spark
        self.n_shards = n_shards
        self._events_fn = events_fn  # () -> the store's lazy events handle
        # the published commit id our STATE VIEW reflects; None = not
        # synced since this instance opened (or since ``invalidate``)
        self._synced_commit: "int | None" = None
        self._meta_path = os.path.join(storage.root, "hwm_META.json")
        self._plock = ProcessLock(os.path.join(storage.root, "hwm_STATE.lock"))
        # observability: how often the expensive path ran (tests assert
        # steady-state ingest+deliver does NOT re-aggregate the log)
        self.rebuild_count = 0

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
        IO.  Sibling-maintained path: the meta on disk is current (or
        microseconds NEWER than our log view — tolerated, see module
        doc), and each resident shard replays the deltas it lacks.
        Stale path: one process rebuilds from the log under the hwm
        lock; everyone else blocks briefly on the flock, then reloads."""
        commit_id = int(commit_id)
        if self._synced_commit == commit_id:
            return
        meta = self._read_meta()
        if meta is None or meta < commit_id:
            with self._plock.held(timeout_s=600):
                meta = self._read_meta()
                if meta is None or meta < commit_id:
                    self._rebuild(commit_id)
        self._refresh_resident()
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

    def _refresh_resident(self) -> None:
        for f in self.shards:
            if f.resident:
                # a shard that fails to load is left unloaded, and
                # for_shard repairs it
                with contextlib.suppress(Exception):
                    f.refresh()

    def invalidate(self) -> None:
        """Force re-validation against the meta on next access."""
        for f in self.shards:
            f.invalidate()
        self._synced_commit = None

    def _rebuild(self, commit_id: int) -> None:
        """Full recompute (called under the hwm lock): ONE Spark
        aggregation over the log, written as a shard-partitioned parquet
        staging and ADOPTED dir-by-dir into the state layout — the
        watermark never funnels through the driver (a ``toPandas``
        materialization would spike O(#partitions) driver RSS).
        Commit 0 is the empty log (every commit holds at least one row),
        so its watermark is written as empty snapshots with no Spark job.
        Every shard frame reloads afterwards."""
        self.rebuild_count += 1
        for f in self.shards:
            f.invalidate()
        if int(commit_id) == 0:
            for f in self.shards:
                self.storage.write_state_pandas(f.table, _empty_hwm().reset_index())
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
            for k, f in enumerate(self.shards):
                src = os.path.join(staging, f"shard={k}")
                if os.path.isdir(src):
                    self.storage.adopt_state_dir(f.table, src)
                else:  # no partitions routed here: explicit empty snapshot
                    self.storage.write_state_pandas(
                        f.table, _empty_hwm().reset_index()
                    )
            self._write_meta(commit_id)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # ---- committer incremental maintenance ----------------------------- #

    def merge_batch(self, batch: pd.DataFrame, prev_commit: int, new_commit: int) -> None:
        """Fold one committed batch's per-partition aggregate (index
        decider_id; the other ``_HWM_COLS`` as columns) into the
        watermark: one ``ShardFrame.merge`` per touched shard + the meta
        bump — so steady ingest+deliver never re-aggregates the log.
        Refuses (and marks itself stale) when the on-disk meta isn't
        exactly ``prev_commit``: advancing a meta whose missing commits
        this batch doesn't cover would break the meta-invariant (module
        doc).  The one exception is a store's first commit
        (``prev_commit == 0``): the watermark of the empty log is written
        on the spot, so a store is indexed from its birth."""
        prev, new = int(prev_commit), int(new_commit)
        pdf = batch.reset_index()
        # a sibling's rebuild can hold the lock for a full Spark job
        with self._plock.held(timeout_s=600):
            if prev == 0 and self._read_meta() is None:
                self._rebuild(0)
            folded = self._read_meta() == prev
            if folded:
                if self._synced_commit != prev:
                    # a SIBLING committed since our last sync: its deltas
                    # moved shards our resident frames predate
                    self._refresh_resident()
                shards = pdf["decider_id"].map(lambda d: shard_of(d, self.n_shards))
                for k, part in pdf.groupby(shards):
                    f = self.shards[int(k)]
                    try:
                        f.merge(part[_HWM_COLS])
                    except Exception:  # noqa: BLE001 — unreadable shard
                        # the fold's load hit torn state; the batch is
                        # already in the published log, so rebuild at it
                        # (the ProcessLock is held and not reentrant:
                        # never through sync)
                        self._rebuild(new)
                        f.merge(part[_HWM_COLS])
                self._write_meta(new)
        if not folded:
            self.invalidate()
            return
        self._synced_commit = new
        self.evict_over_budget()

    # ---- reads --------------------------------------------------------- #

    def for_shard(self, k: int) -> pd.DataFrame:
        """Shard k's watermark frame (index decider_id; columns offset,
        offset_final, decider, event_id) — the claim path's per-shard
        read.  Loads an unloaded shard, repairing an unreadable one by
        rebuild under the hwm lock; LRU-evicts over budget."""
        f = self.shards[k]
        if not f.resident:
            try:
                f.refresh()
            except Exception:  # noqa: BLE001 — torn state: repair
                with self._plock.held(timeout_s=600):
                    try:
                        f.refresh()
                    except Exception:  # noqa: BLE001 — still broken
                        at = self._synced_commit
                        if at is None:
                            at = self._read_meta() or 0
                        self._rebuild(int(at))
                        f.refresh()
        self.use(k)
        self.evict_over_budget()
        return f.df

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
