"""LocksLedger — driver-side authority for consumer (locks) state.

Why this exists: the reference's ``locks`` table
lives in a central Postgres server, so claim/lease/ack are row updates with
~ms latency and ``FOR UPDATE SKIP LOCKED`` gives cross-connection disjoint
claims (/root/reference/schema.sql:402-446).  Expressed as a Spark join +
full-snapshot parquet rewrite per lock mutation, the same semantics cost a
claim→deliver→ack round trip 3 Spark jobs (~48 events/s).

This module is the embedded-KV analogue of that central table:

- **In-memory pandas frame** indexed by (view, decider_id) — the working
  set.  Consumer state is tiny relative to the log (#views × #partitions
  rows; the reference holds the very same table on one Postgres box), so a
  driver-resident frame IS the 100 TB-scale design, not a shortcut.
- **Durable snapshots in the ParquetStore state layout**
  (``locks_s{k:02d}_state/v{N}`` full snapshots + ``v{N}.delta.arrow`` deltas +
  ``_LATEST`` pointer): every mutating API call flushes before returning,
  so at-least-once delivery survives a crash (an unflushed lease/ack
  redelivers — permitted; a lost ack is the at-least-once contract, a
  phantom ack would not be and cannot happen because the flush precedes
  the API return).  Hot-path flushes are APPEND-DELTAS — only the rows
  the call touched, O(#acks) not O(#lock rows) — with a full snapshot
  every ``COMPACT_EVERY`` commits to bound the chain a cold reader
  replays.  Writes go through pyarrow
  (no Spark job on the hot path).
- **Cross-process claim safety** — the SKIP LOCKED analogue
  (/root/reference/schema.sql:411): an ``fcntl.flock`` mutex on a
  persistent lock file guards every read-modify-write, and a version
  check under that lock reloads the frame when another process advanced
  the snapshot.  Two EventStore processes on one path therefore serialize
  their claims against the same state and can never double-deliver.  A
  crashed holder's lock is released by the KERNEL when its fd closes —
  no TTL-steal protocol, hence no steal race.

Scale ceiling, stated honestly: one frame on one driver, exactly like the
reference's one table on one Postgres primary.  Per-tick flush cost no
longer grows with the table (deltas); the remaining growth axes are the
in-memory frame itself and the periodic full compaction — both
O(#views × #partitions), the same central ceiling as the reference's
``locks`` table.  (A Delta MERGE backend was considered as an escape
hatch and struck — see SURVEY.md §7.1 step 2: the sharded append-delta
layout already provides the MERGE-shaped semantics, and delta-spark is
not a dependency.)
"""

from __future__ import annotations

import itertools
import json
import logging
import os
import threading
import time
import zlib
from collections import deque

from fstore_sql_spark import errors
from contextlib import contextmanager
from datetime import datetime

import pandas as pd

logger = logging.getLogger("fstore_sql_spark.ledger")

_COLS = ["view", "decider_id", "last_offset", "locked_until", "created_at", "updated_at"]


def _empty_frame() -> pd.DataFrame:
    df = pd.DataFrame(
        {
            "view": pd.Series(dtype="object"),
            "decider_id": pd.Series(dtype="object"),
            "last_offset": pd.Series(dtype="int64"),
            "locked_until": pd.Series(dtype="datetime64[us]"),
            "created_at": pd.Series(dtype="datetime64[us]"),
            "updated_at": pd.Series(dtype="datetime64[us]"),
        }
    )
    return df.set_index(["view", "decider_id"])


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Coerce a snapshot read (Spark- or pyarrow-written) to ledger dtypes.
    Columns already at target dtype pass through untouched — the hot
    reload path (deltas written by this module) then skips the
    ~ms-per-column ``to_datetime`` parse entirely."""
    pdf = pdf[_COLS].copy()
    if str(pdf["last_offset"].dtype) != "int64":
        pdf["last_offset"] = pdf["last_offset"].astype("int64")
    for c in ("locked_until", "created_at", "updated_at"):
        if str(pdf[c].dtype) != "datetime64[us]":
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
    return pdf.set_index(["view", "decider_id"]).sort_index()


class ProcessLock:
    """Filesystem mutex via ``fcntl.flock`` on a PERSISTENT lock file —
    serializes lock-state read-modify-write across PROCESSES (threads are
    already serialized by the store's commit lock, and two flock fds in
    one process conflict too, so stray in-process concurrency is safe).

    Why flock: the previous O_CREAT|O_EXCL + mtime
    TTL-steal scheme had a TOCTOU race — between the stale-age stat and
    the steal rename, the old holder could release and a NEW process
    acquire, so the stealer renamed away a live lock and two processes
    entered the critical section.  flock has no steal path at all: the
    kernel releases the lock when the holder's fd closes, process death
    included.  The lock file is never unlinked — unlink-on-release would
    reopen the classic flock race where a waiter holds an fd to the
    unlinked inode and locks a different file than later arrivals.
    Crash recovery is the kernel's, not a timer's."""

    def __init__(self, path: str):
        self.path = path
        self._held = threading.local()  # per-thread fd while held

    def _check_not_held(self) -> None:
        # Non-reentrant by design: a nested acquire on the same thread
        # would silently overwrite the held fd (leaking it) and then
        # self-deadlock on the second flock until TimeoutError.
        # Fail fast instead — nesting guard() on one shard is a bug.
        if getattr(self._held, "fd", None) is not None:
            raise RuntimeError(
                f"ProcessLock {self.path} already held by this thread "
                "(non-reentrant; nested acquire is a bug)"
            )

    def try_acquire(self) -> bool:
        """One non-blocking attempt — the SKIP LOCKED primitive.  Returns
        False immediately if another process (or this thread, via a second
        fd) holds the lock."""
        import fcntl

        self._check_not_held()
        fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            os.close(fd)
            return False
        self._held.fd = fd
        return True

    def acquire(self, timeout_s: float = 30.0) -> None:
        import fcntl

        self._check_not_held()
        deadline = time.monotonic() + timeout_s
        fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
        # Tight spin first: lock hold times are single-digit ms (one
        # claim/ack + delta flush), so a 0.2 ms retry keeps handoff
        # latency far below the 2 ms granularity that throttled
        # contended throughput; back off to 2 ms only for long waits.
        spin_until = time.monotonic() + 0.05
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                now = time.monotonic()
                if now > deadline:
                    os.close(fd)
                    raise TimeoutError(f"lock {self.path} held > {timeout_s}s")
                time.sleep(0.0002 if now < spin_until else 0.002)
        try:  # holder breadcrumb for operators; correctness never reads it
            os.ftruncate(fd, 0)
            os.pwrite(fd, json.dumps({"pid": os.getpid(), "ts": time.time()}).encode(), 0)
        except OSError:
            pass
        self._held.fd = fd

    def release(self) -> None:
        import fcntl

        fd = getattr(self._held, "fd", None)
        if fd is None:
            return
        self._held.fd = None
        try:
            fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)

    @contextmanager
    def held(self, timeout_s: float = 30.0):
        self.acquire(timeout_s)
        try:
            yield
        finally:
            self.release()


class LocksLedger:
    """The consumer-state authority for one store path (see module doc).

    All mutators assume the caller holds BOTH the store's in-process
    commit lock and this ledger's :meth:`guard` (process lock), which also
    refreshes from disk if another process advanced the snapshot —
    together they are the ``FOR UPDATE SKIP LOCKED`` transaction."""

    # Full-snapshot compaction cadence: a delta chain longer than this is
    # folded into a full snapshot at the next flush, bounding the chain a
    # cold reader must replay.
    COMPACT_EVERY = 64
    # consumer flushes between _CLAIMSTAMP publishes (see flush)
    STAMP_EVERY = 16
    # publish at least this often while consumer mutations occur, so a
    # slow consumer still looks live to sibling fairness probes
    STAMP_MAX_AGE_S = 1.0

    def __init__(self, storage, table: str = "locks", lazy: bool = False):
        self.storage = storage  # ParquetStore (state-snapshot layout owner)
        self.table = table
        state_dir = os.path.join(storage.root, f"{table}_state")
        os.makedirs(state_dir, exist_ok=True)
        self._plock = ProcessLock(os.path.join(state_dir, "_PROCLOCK"))
        self._df = _empty_frame()
        self._version = -2  # below the "no snapshot yet" sentinel (-1)
        self._dirty = False
        # keys touched since the last flush — what a delta flush writes
        self._pending_upserts: set[tuple[str, str]] = set()
        self._pending_deletes: set[tuple[str, str]] = set()
        # cached delta-chain length: the directory walk behind
        # storage.state_delta_chain grows with the chain and was ~1/3 of
        # the per-flush cost when paid on every tick
        self._chain_len = 0
        # CONSUMER-progress stamp (see ShardedLocksLedger._fairness_probe):
        # claim/ack/set_locked_until record their views here; flush then
        # publishes {"version", "views"} to _CLAIMSTAMP.  Producer writes
        # (insert_missing/upsert) do NOT touch it, so a probe can tell
        # "a consumer is progressing view X on this shard" apart from
        # mere version churn.
        self._claim_stamp_path = os.path.join(state_dir, "_CLAIMSTAMP")
        self._consumer_views: set[str] = set()
        self._stamp_written_version = -(10**9)  # force first publish
        self._stamp_written_views: list[str] = []
        self._stamp_written_at = 0.0  # monotonic clock of last publish
        # (index object, materialized decider_id level) — see _view_slice
        self._ids_cache: tuple | None = None
        # version of the last evict-cache spill (skip unchanged rewrites)
        self._evict_cache_version: int | None = None
        # lazy=True (LRU shard paging): skip the eager load; the frame
        # stays empty at version -2 until first guarded use or a
        # negative-probe refresh in the claim walk loads it on demand.
        if not lazy:
            self._reload_if_stale()

    # ------------------------------------------------------------------ #
    # persistence
    # ------------------------------------------------------------------ #

    @contextmanager
    def guard(self):
        """The cross-process critical section: lock file → reload if a
        sibling process advanced the snapshot → mutate → flush → unlock.

        A mutator that RAISES mid-update (KeyboardInterrupt between two
        iloc writes, a coercion error) leaves the frame diverged from its
        disk version with nothing pending — replaying sibling deltas onto
        that frame would bake the phantom rows into the next compaction.
        The except arm therefore invalidates the cached
        frame; the next access reloads wholesale from disk, discarding
        the partial mutation (safe: the call never returned)."""
        with self._plock.held():
            self._reload_if_stale()
            try:
                yield
            except BaseException:
                self._invalidate()
                raise
            if self._dirty:
                self.flush()

    @contextmanager
    def try_guard(self):
        """Non-blocking :meth:`guard` — yields True with the critical
        section held, or False immediately when another process holds the
        shard (the caller SKIPs it, exactly ``FOR UPDATE SKIP LOCKED``).
        Same exception-rollback contract as :meth:`guard`."""
        if not self._plock.try_acquire():
            yield False
            return
        try:
            self._reload_if_stale()
            try:
                yield True
            except BaseException:
                self._invalidate()
                raise
            if self._dirty:
                self.flush()
        finally:
            self._plock.release()

    def _reload_if_stale(self) -> None:
        disk = self.storage.state_version(self.table)
        if disk == self._version:
            return
        # Incremental catch-up: if every version a sibling added since ours
        # is a delta, replay just those onto the in-memory frame (K tiny
        # file reads) instead of reconstructing the whole state.  Valid
        # because outside a mutation the frame exactly equals our version
        # (mutators flush before releasing the guard).
        deltas = None
        if 0 <= self._version < disk:
            deltas = self.storage.read_state_deltas(self.table, self._version, disk)
        if deltas is not None:
            for dpdf in deltas:
                self._apply_delta(dpdf)
            self._chain_len += len(deltas)  # siblings appended deltas
        elif disk < 0:  # no snapshot on disk yet (Spark-free bootstrap)
            self._df = _empty_frame()
            self._chain_len = 0
        else:
            self._full_reload(disk)
        self._version = disk
        self._dirty = False
        self._pending_upserts.clear()
        self._pending_deletes.clear()

    def _full_reload(self, disk: int) -> None:
        """Reconstruct the frame at version ``disk``: latest full snapshot
        + INDEXED replay of the tail deltas (the positional
        :meth:`_apply_delta`, ~50x the unindexed ``apply_state_delta``
        the generic ``read_state_pandas`` path pays per delta — this is
        the first-visit-to-a-busy-shard cost for concurrent consumers).
        An evict-cache spill (see :meth:`evict`) short-circuits all of it
        when this process recently held the frame."""
        if self._try_evict_cache(disk):
            return
        try:
            base_v = self.storage.latest_full_state_version(self.table)
            if base_v < 0:
                raise FileNotFoundError(self.table)
            import pyarrow.parquet as pq

            entry = self.storage._state_entry(self.table, base_v)
            if entry is None:
                # a sibling's GC unlinked the snapshot between the
                # version scan and this read — take the retrying fallback
                raise FileNotFoundError(self.table)
            pdf = pq.read_table(entry[1]).to_pandas()
            frame = _normalize(pdf) if len(pdf) else _empty_frame()
            tail = []
            if base_v < disk:
                tail = self.storage.read_state_deltas(self.table, base_v, disk)
                if tail is None:
                    raise FileNotFoundError(self.table)
            self._df = frame
            for dpdf in tail:
                self._apply_delta(dpdf)
            self._chain_len = len(tail)
        except FileNotFoundError:
            # sibling GC raced the reads — the generic path retries and
            # re-resolves _LATEST until it converges
            pdf = self.storage.read_state_pandas(
                self.table, key_cols=["view", "decider_id"]
            )
            self._df = _normalize(pdf) if len(pdf) else _empty_frame()
            self._chain_len = self.storage.state_delta_chain(self.table)

    def _eligible_scan(self, view: str, hwm: pd.DataFrame, now):
        """Positional eligibility scan shared by :meth:`claim` and
        :meth:`has_eligible` — ONE definition of "claimable" so the
        lock-free probe can never drift from the locked claim (a probe
        that disagrees would skip a claimable shard forever).  Returns
        (start, ids, lo_vals, hoff_at, cand) with ``cand`` the
        slice-relative positions of claimable partitions, or None when
        the view has no rows."""
        import numpy as np

        if self._df.empty or hwm.empty:
            return None
        sl = self._view_slice(view)
        if sl is None:
            return None
        start, ids = sl
        stop = start + len(ids)
        lo_vals = self._df["last_offset"].to_numpy()[start:stop]
        lu_vals = self._df["locked_until"].to_numpy()[start:stop]
        hpos = hwm.index.get_indexer(ids)
        hoff = hwm["offset"].to_numpy()
        now64 = np.datetime64(pd.Timestamp(now), "us")
        known = hpos >= 0
        hoff_at = np.where(known, hoff[np.where(known, hpos, 0)], 0)
        elig = known & (lu_vals < now64) & (lo_vals < hoff_at)
        return start, ids, lo_vals, hoff_at, np.nonzero(elig)[0]

    def has_eligible(self, view: str, hwm: pd.DataFrame, now) -> bool:
        """Lock-free, IO-free probe: does the CURRENT IN-MEMORY frame
        (possibly stale) show a claimable partition?  Staleness is safe
        in both directions for a PRE-check: a false positive just pays a
        lock + reload + re-verified claim; a false negative is bounded
        because callers refresh when the probe is negative (sibling acks
        only advance last_offset, and leases expire by wall clock, so a
        stale frame over-reports eligibility in the common case)."""
        scan = self._eligible_scan(view, hwm, now)
        return scan is not None and scan[4].size > 0

    def _claim_order(self, view: str, hwm: pd.DataFrame, now):
        """(start, ids, lo_vals, order): the claimable slice positions in
        the order :meth:`claim` leases them, or None when the view has no
        rows.  Order: hwm offset (the reference's ORDER BY "offset",
        schema.sql:410), then last_offset ascending — the tie-break
        matters: with equal watermarks and a small limit, a pure id-order
        tie would re-pick the same partitions every round and starve the
        rest; fewest-consumed-first makes round-robin emerge among ties.
        lexsort is stable, so remaining ties fall back to id order
        (deterministic)."""
        import numpy as np

        scan = self._eligible_scan(view, hwm, now)
        if scan is None:
            return None
        start, ids, lo_vals, hoff_at, cand = scan
        return start, ids, lo_vals, cand[np.lexsort((lo_vals[cand], hoff_at[cand]))]

    def _apply_delta(self, dpdf: pd.DataFrame) -> None:
        # Indexed-frame twin of storage.apply_state_delta (which serves
        # the cold-reader reconstruction on unindexed frames) — the two
        # MUST stay semantically identical: drop every key named by the
        # delta, re-insert its non-tombstoned rows.
        #
        # Hot fast path (the sibling-replay cost a concurrent consumer
        # pays per round): a claim/ack delta only UPDATES
        # keys that already exist — write the value columns in place by
        # POSITION instead of drop+concat+sort (which re-factorizes the
        # whole MultiIndex per delta, ~10ms against ~0.1ms here).
        import numpy as np

        keys = pd.MultiIndex.from_arrays(
            [dpdf["view"], dpdf["decider_id"]], names=["view", "decider_id"]
        )
        deleted = dpdf["_deleted"].to_numpy()
        if not self._df.empty and not deleted.any():
            pos = self._df.index.get_indexer(keys)
            if (pos >= 0).all():
                for c in ("last_offset", "locked_until", "created_at", "updated_at"):
                    self._df.iloc[pos, self._df.columns.get_loc(c)] = (
                        dpdf[c].to_numpy()
                    )
                return
        self._df = self._df.drop(index=keys, errors="ignore")
        up = dpdf[~dpdf["_deleted"]]
        if len(up):
            self._df = pd.concat([self._df, _normalize(up)]).sort_index()

    def flush(self) -> None:
        """Persist the pending mutation.  Hot path (claim/ack ticks): an
        APPEND-DELTA snapshot containing only the touched rows — O(#acks)
        per tick, not O(#lock rows).  A
        full snapshot is written instead when the delta chain reaches
        ``COMPACT_EVERY`` (bounds cold-reader replay), when the pending
        set rivals the frame itself (bulk backfills), or when nothing
        finer is known."""
        n_pend = len(self._pending_upserts) + len(self._pending_deletes)
        use_delta = (
            0 < n_pend < max(1024, len(self._df) // 2)
            and self._chain_len + 1 < self.COMPACT_EVERY
            and self._version >= 0
        )
        if use_delta:
            parts = []
            if self._pending_upserts:
                pos = self._positions_of(sorted(self._pending_upserts))
                if pos:
                    up = self._df.take(pos).reset_index()[_COLS]
                    up["_deleted"] = False
                    parts.append(up)
            if self._pending_deletes:
                dels = sorted(self._pending_deletes)
                dd = pd.DataFrame(
                    {
                        "view": [k[0] for k in dels],
                        "decider_id": [k[1] for k in dels],
                        "last_offset": 0,
                        "locked_until": pd.Timestamp(0),
                        "created_at": pd.Timestamp(0),
                        "updated_at": pd.Timestamp(0),
                        "_deleted": True,
                    }
                )
                parts.append(dd)
            delta = pd.concat(parts, ignore_index=True)
            self._version = self.storage.write_state_delta(self.table, delta)
            self._chain_len += 1
        else:
            out = self._df.reset_index()[_COLS]
            self._version = self.storage.write_state_pandas(self.table, out)
            self._chain_len = 0
        self._dirty = False
        self._pending_upserts.clear()
        self._pending_deletes.clear()
        if self._consumer_views:
            # Throttled publish: probes sample the stamp only every
            # FAIRNESS_EVERY x n_shards ticks, so per-flush freshness
            # buys nothing — publish every STAMP_EVERY consumer flushes,
            # when the accumulated view set changes, or after
            # STAMP_MAX_AGE_S regardless (a SLOW consumer flushing less
            # than STAMP_EVERY times between two probes would otherwise
            # look orphaned and be stolen from on every probe).  Views
            # ACCUMULATE across unpublished flushes — they
            # are cleared only when a publish lands.
            views = sorted(self._consumer_views)
            due = (
                self._version - self._stamp_written_version >= self.STAMP_EVERY
                or views != self._stamp_written_views
                or time.monotonic() - self._stamp_written_at >= self.STAMP_MAX_AGE_S
            )
            if due:
                tmp = f"{self._claim_stamp_path}.tmp.{os.getpid()}"
                with open(tmp, "w", encoding="utf-8") as f:
                    json.dump({"version": self._version, "views": views}, f)
                os.replace(tmp, self._claim_stamp_path)
                self._stamp_written_version = self._version
                self._stamp_written_views = views
                self._stamp_written_at = time.monotonic()
                self._consumer_views.clear()

    def read_claim_stamp(self) -> dict | None:
        """Last consumer-mutation flush on this shard: {"version", "views"}
        or None (no consumer has ever committed here / pre-stamp layout).
        Lock-free read — the stamp is published by atomic replace."""
        try:
            with open(self._claim_stamp_path, encoding="utf-8") as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    # ------------------------------------------------------------------ #
    # reads
    # ------------------------------------------------------------------ #

    def _invalidate(self) -> None:
        """Discard the cached frame and all pending bookkeeping; the next
        access reloads from the (untouched) disk state."""
        self._df = _empty_frame()
        self._version = -2
        self._dirty = False
        self._pending_upserts.clear()
        self._pending_deletes.clear()
        self._consumer_views.clear()
        self._chain_len = 0
        self._ids_cache = None

    @property
    def resident(self) -> bool:
        """True when the shard's frame is loaded (version sentinel -2 =
        never loaded / evicted)."""
        return self._version > -2

    def frame_bytes(self) -> int:
        """Resident bytes of the shard frame, index included (deep scan —
        strings counted; call on demand, not per tick)."""
        if not self.resident or self._df.empty:
            return 0
        return int(self._df.memory_usage(deep=True).sum())

    def evict(self) -> None:
        """LRU shard paging: release the resident frame;
        the next use reloads from the (flushed) disk snapshot.  Callable
        only OUTSIDE the guard — mutators flush before releasing, so a
        dirty frame here means a caller bug and the evict is refused
        rather than dropping unflushed consumer progress.

        Before dropping, the PARSED frame is spilled to a version-tagged
        Arrow IPC evict-cache: a re-visit then pays
        one mmap read + the delta tail SINCE the tag, instead of the full
        parquet snapshot + up-to-COMPACT_EVERY delta replay — the cost
        that made a paged drain 0.59x of unpaged (BASELINE.md).  Best
        effort: any failure just falls back to the snapshot path."""
        if self._dirty:
            return
        if self.resident and self._version >= 0 and len(self._df):
            try:
                self._write_evict_cache()
            except Exception:  # noqa: BLE001 — cache only, never blocks evict
                pass
        self._invalidate()

    def _write_evict_cache(self) -> None:
        if getattr(self, "_evict_cache_version", None) == self._version:
            return  # frame unchanged since the last spill
        self.storage.write_evict_cache(
            self.table, self._df.reset_index(), self._version,
            tag=b"ledger_version",
        )
        self._evict_cache_version = self._version

    def _try_evict_cache(self, disk: int) -> bool:
        """Reload from the evict-cache if its tag is close enough to the
        disk version for a delta-tail replay; False → caller takes the
        full snapshot path."""
        hit = self.storage.read_evict_cache(self.table, tag=b"ledger_version")
        if hit is None:
            return False
        pdf, v = hit
        if v > disk or disk - v > self.COMPACT_EVERY:
            return False
        tail = []
        if v < disk:
            tail = self.storage.read_state_deltas(self.table, v, disk)
            if tail is None:
                return False
        self._df = _normalize(pdf) if len(pdf) else _empty_frame()
        for dpdf in tail:
            self._apply_delta(dpdf)
        self._chain_len = self.storage.state_delta_chain(self.table)
        return True

    def refresh(self) -> None:
        """Lock-free read freshness: reload the frame if a sibling process
        advanced the snapshot (version-pointer check, one tiny file read).
        Safe without the process lock — snapshots are immutable and the
        ``_LATEST`` flip is atomic, so a racing writer can never expose a
        torn state; callers outside :meth:`guard` have no unflushed
        mutations (mutators flush before returning).  Read-only callers
        (``locks()`` views) use this so they never serve arbitrarily stale
        consumer state."""
        self._reload_if_stale()

    def to_pandas(self) -> pd.DataFrame:
        """Reference-shaped state columns (no hwm join), index reset."""
        return self._df.reset_index()[_COLS].copy()

    def count(self) -> int:
        return len(self._df)

    # ------------------------------------------------------------------ #
    # mutators (call under guard())
    # ------------------------------------------------------------------ #

    def _view_slice(self, view: str):
        """(start, ids) for the sorted index's contiguous run of ``view``,
        or None when the view has no rows.  The frame is kept lexsorted
        by every mutator, so a partial-key get_loc is a slice; if an
        unexpected code path left it unsorted, re-sort once (self-heal)
        rather than silently taking a slow path forever."""
        idx = self._df.index
        try:
            loc = idx.get_loc(view)
        except KeyError:
            return None
        if not isinstance(loc, slice):
            self._df = self._df.sort_index()
            idx = self._df.index
            loc = idx.get_loc(view)
        # get_level_values materializes the full decider_id level (a
        # take over every row — ~13ms at 1M rows) on EVERY call; cache it
        # keyed on index-object identity.  Value mutators (iloc writes)
        # keep the index object, so the ids stay valid; row inserts/
        # deletes/sorts build a new index and miss the cache naturally.
        cache = self._ids_cache
        if cache is None or cache[0] is not idx:
            self._ids_cache = cache = (idx, idx.get_level_values(1)._values)
        return loc.start, cache[1][loc]

    def _positions_of(self, keys) -> "list[int]":
        """Sorted-index positions of the EXISTING keys among ``keys``
        ((view, decider_id) tuples) — binary search per view against the
        lexsorted index, avoiding MultiIndex factorization (the pandas
        ``.loc``/``isin`` alignment cost that dominated the claim tick)."""
        import numpy as np

        if self._df.empty:
            return []
        by_view: dict[str, list[str]] = {}
        for v, d in keys:
            by_view.setdefault(v, []).append(d)
        out: list[int] = []
        for v, ds in by_view.items():
            sl = self._view_slice(v)
            if sl is None:
                continue
            start, ids = sl
            t = np.asarray(ds, dtype=object)
            p = np.searchsorted(ids, t)
            ok = (p < len(ids)) & (ids[np.minimum(p, len(ids) - 1)] == t)
            out.extend((start + p[ok]).tolist())
        return out

    def _touch(self, keys) -> None:
        """Record upserted keys for the next delta flush."""
        keys = list(keys)
        self._pending_upserts.update(keys)
        self._pending_deletes.difference_update(keys)

    def _touch_del(self, keys) -> None:
        keys = list(keys)
        self._pending_deletes.update(keys)
        self._pending_upserts.difference_update(keys)

    def claim(
        self,
        view: str,
        hwm: pd.DataFrame,
        limit: int,
        now: datetime,
        lease_until: datetime,
    ) -> list[tuple[str, int]]:
        """The locked_view + update_locks CTEs
        (/root/reference/schema.sql:405-417): among this view's partitions
        that are unlocked and have unread events (last_offset < hwm
        offset), lease the ``limit`` lowest-watermark ones.  Returns
        [(decider_id, last_offset)] for the delivery join.

        ``hwm`` is the log-derived high-watermark frame (index decider_id,
        column ``offset``) — the derived half of the reference's T6
        dual-write (SURVEY.md §7.5)."""
        import numpy as np

        # Positional scan (no MultiIndex alignment) over the view's
        # sorted id slice, in the order of _claim_order.
        scan = self._claim_order(view, hwm, now)
        if scan is None:
            return []
        start, ids, lo_vals, order = scan
        take = order[: int(limit)]
        if take.size == 0:
            return []
        gpos = start + take
        now64 = np.datetime64(pd.Timestamp(now), "us")
        self._df.iloc[gpos, self._df.columns.get_loc("locked_until")] = (
            np.datetime64(pd.Timestamp(lease_until), "us")
        )
        self._df.iloc[gpos, self._df.columns.get_loc("updated_at")] = now64
        self._dirty = True
        self._touch((view, d) for d in ids[take])
        self._consumer_views.add(view)
        return [(str(d), int(o)) for d, o in zip(ids[take], lo_vals[take])]

    def ack(self, view: str, acks: list[tuple[str, int]], now: datetime) -> None:
        """A7 batch form: last_offset = offset, locked_until = now
        (release), updated_at bumped (T5)
        (/root/reference/schema.sql:436-446).  Unknown pairs are ignored —
        UPDATE matches zero rows in the reference too."""
        import numpy as np

        if not acks or self._df.empty:
            return
        # Positional batch update (binary search on the lexsorted index,
        # no MultiIndex factorization).  Duplicate keys keep the LAST
        # offset (UPDATE semantics).
        dedup: dict[str, int] = {}
        for decider_id, offset in acks:
            dedup[decider_id] = int(offset)
        sl = self._view_slice(view)
        if sl is None:
            return
        start, ids = sl
        t = np.asarray(list(dedup), dtype=object)
        p = np.searchsorted(ids, t)
        ok = (p < len(ids)) & (ids[np.minimum(p, len(ids) - 1)] == t)
        if not ok.any():
            # no row matched — a no-op ack must not trigger a snapshot
            # flush
            return
        gpos = start + p[ok]
        vals = np.fromiter(dedup.values(), dtype="int64", count=len(dedup))[ok]
        now64 = np.datetime64(pd.Timestamp(now), "us")
        cols = self._df.columns
        self._df.iloc[gpos, cols.get_loc("last_offset")] = vals
        # Release to now - 1us, not now: eligibility is STRICTLY
        # locked_until < now, so an exact-now release would exclude a
        # just-acked hot partition from a claim evaluated at the same
        # ``now``, forcing an empty round whenever claimable partitions
        # <= limit.
        # The reference relies on NOW() advancing between
        # statements for the same effect (schema.sql:436-446).
        self._df.iloc[gpos, cols.get_loc("locked_until")] = now64 - np.timedelta64(1, "us")
        self._df.iloc[gpos, cols.get_loc("updated_at")] = now64
        self._dirty = True
        self._touch((view, d) for d in t[ok])
        self._consumer_views.add(view)

    def set_locked_until(
        self, view: str, decider_id: str, until: datetime, now: datetime
    ) -> None:
        """A8/A9 nack / schedule_nack (/root/reference/schema.sql:449-468)."""
        key = (view, decider_id)
        if key in self._df.index:
            self._df.at[key, "locked_until"] = pd.Timestamp(until)
            self._df.at[key, "updated_at"] = pd.Timestamp(now)
            self._dirty = True
            self._touch([key])
            self._consumer_views.add(view)

    def insert_missing(self, rows: pd.DataFrame) -> None:
        """T6 insert branch (ON CONFLICT DO NOTHING shape): add rows whose
        (view, decider_id) is absent; existing rows untouched
        (/root/reference/schema.sql:244-252)."""
        if rows.empty:
            return
        add = _normalize(rows)
        fresh = add.loc[~add.index.isin(self._df.index)]
        if fresh.empty:
            return
        self._df = pd.concat([self._df, fresh]).sort_index()
        self._dirty = True
        self._touch(fresh.index)

    def upsert(self, rows: pd.DataFrame) -> None:
        """T7 backfill merge: overwrite last_offset/locked_until/updated_at
        for existing keys (created_at preserved), insert the rest
        (/root/reference/schema.sql:268-309)."""
        if rows.empty:
            return
        up = _normalize(rows)
        existing = up.index.intersection(self._df.index)
        if len(existing):
            for c in ("last_offset", "locked_until", "updated_at"):
                self._df.loc[existing, c] = up.loc[existing, c]
        fresh = up.loc[~up.index.isin(self._df.index)]
        if len(fresh):
            self._df = pd.concat([self._df, fresh]).sort_index()
        self._dirty = True
        self._touch(up.index)

    def delete_view(self, view: str) -> None:
        """FK ON DELETE CASCADE analogue (/root/reference/schema.sql:199)."""
        if view in self._df.index.get_level_values(0):
            gone = [
                (view, d)
                for d in self._df.xs(view, level=0, drop_level=True).index
            ]
            self._df = self._df.drop(view, level=0)
            self._dirty = True
            self._touch_del(gone)


def shard_of(decider_id: str, n_shards: int) -> int:
    """Stable cross-process shard routing (builtin ``hash`` is per-process
    randomized and must never be used here).  Spark-side parity:
    ``pmod(crc32(cast(decider_id as binary)), n_shards)`` computes the
    same value (verified — standard CRC-32), which is what lets the
    sharded hwm rebuild route partitions executor-side (hwm.py)."""
    return zlib.crc32(decider_id.encode("utf-8")) % n_shards


def _shard_hwm(hwm, k: int) -> pd.DataFrame:
    """Resolve the watermark for shard ``k``: a ``ShardedHwm`` serves its
    per-shard frame (a claim then touches one ledger shard + one hwm
    shard); a plain whole-table pandas frame (tests, tools) is used
    as-is for every shard — correct because a
    shard's ``_eligible_scan`` only probes its own decider ids."""
    fs = getattr(hwm, "for_shard", None)
    return fs(k) if fs is not None else hwm


class ShardedLocksLedger:
    """N independently-locked :class:`LocksLedger` shards, routed by
    ``crc32(decider_id) % N`` — the row-lock-granularity analogue of the
    reference's ``FOR UPDATE SKIP LOCKED`` (/root/reference/schema.sql:411).

    A single store-wide mutex serializes EVERY claim/ack across consumer
    processes; measured on the b3c bench that collapses 4 workers to ~0.4×
    one worker's throughput.  Postgres doesn't have that problem because
    claims take row locks: consumers touching different partitions never
    contend.  Sharding restores exactly that property — two consumers
    contend only when their claimed partitions hash to the same shard
    (probability 1/N per pair), and every shard keeps the single-shard
    ledger's crash/durability story unchanged.

    Methods are SELF-GUARDING: each takes only the shard locks it touches
    (callers no longer wrap mutations in ``guard()``).  Claiming is
    STICKY + NON-BLOCKING — the two halves of what makes SKIP LOCKED
    scale in the reference:

    - **Sticky affinity**: a consumer keeps claiming from the shard its
      last claim succeeded on and only walks onward when that shard is
      drained or busy.  N concurrent consumers therefore settle on
      disjoint shards without any coordination, so the steady state has
      no lock contention AND no sibling-delta replay (each consumer's
      shard only ever advances by its own commits) — the two serializers
      a rotating walk would still pay.
    - **SKIP LOCKED**: lock attempts during the walk are non-blocking; a
      shard held by a sibling is skipped exactly like a locked row under
      ``FOR UPDATE SKIP LOCKED`` (/root/reference/schema.sql:411).  A
      blocking fallback pass guarantees progress when every candidate
      shard was momentarily held (a claim may not falsely return "empty
      store" just because siblings were mid-tick).

    Within a shard claims stay lowest-watermark-first; the reference's
    ORDER BY "offset" preference (schema.sql:410) is fairness, not a
    delivery contract (order is only guaranteed WITHIN a partition, and
    SKIP LOCKED already breaks strict global claim order under
    concurrency).  No-starvation comes from the FAIRNESS PROBE: every
    ``FAIRNESS_EVERY``-th claim additionally inspects one rotating
    foreign shard and claims at most one partition from it, deferring
    ONLY while the shard's consumer claim stamp shows a live sibling
    progressing the same view there (producer-only version churn never
    touches the stamp, so it cannot defer the probe — see
    :meth:`_fairness_probe`).  Even when the sticky shard fills
    ``limit`` indefinitely, every shard is probed once per
    FAIRNESS_EVERY x n_shards claims and must yield unless its
    partitions are already being served — a bounded delivery delay
    for every partition.  The store's delivery
    read-ahead follows this claim order: each refill warms up to
    ``PREFETCH_PARTITIONS`` of the view's partitions, in the order
    :meth:`upcoming_claims` says the probe and the walk will reach them.

    The shard count is part of the persistent layout: routing is
    ``crc32(decider_id) % n_shards``, so opening one store with two
    different counts would silently mis-route acks (dropped as unknown
    pairs) and redeliver forever.  A ``<table>_SHARDS`` marker written at
    first creation pins the count; reopening adopts it, and an EXPLICIT
    mismatching ``n_shards`` argument fails loudly.

    Driver residency follows that pinned count, decided once at open: a
    layout of more than ``MAX_RESIDENT_SHARDS`` shards pages (LRU) with
    that many shard frames resident — memory O(active shards), not
    O(#partitions); the sticky claim path touches ~1 shard per consumer,
    and an evicted shard reloads on demand (evict-cache or snapshot +
    delta tail).  A smaller layout keeps every shard resident.  So a
    store created with ``expected_partitions`` large enough, or resized
    past the budget with ``tools/resize_shards.py``, pages on every
    open, as its layout says, whatever process opens it.
    """

    DEFAULT_SHARDS = 8
    # Residency budget of a paged layout, in shard frames: 16 ×
    # TARGET_ROWS_PER_SHARD ≈ 512k rows (~40 MB), a plateau independent
    # of the partition count.  BASELINE.md measured the evict-cache's
    # worst-case paging tax at 8-11%.
    MAX_RESIDENT_SHARDS = 16
    # claims between fairness-probe ticks (see _fairness_probe): lower
    # = tighter starvation bound, higher = more shard affinity
    FAIRNESS_EVERY = 8
    # Sizing rule (from the BASELINE.md tick-latency
    # curve: the per-tick eligibility scan is O(shard rows); ~2.5k
    # rows/shard ticks at ~5ms, ~125k at ~42ms): keep shards at or under
    # TARGET_ROWS_PER_SHARD rows for a low-double-digit-ms p95 tick.
    TARGET_ROWS_PER_SHARD = 32_768
    MAX_SHARDS = 4096
    # rolling p95 tick latency above this emits the one-line resize
    # warning (see _note_tick_latency) — the curve says a healthy shard count
    # stays well under it
    TICK_P95_WARN_S = 0.050
    TICK_WINDOW = 128  # ticks in the rolling latency window

    @classmethod
    def shards_for(cls, expected_partitions: int) -> int:
        """Initial shard count for an expected partition cardinality:
        next power of two keeping shards ≤ TARGET_ROWS_PER_SHARD rows,
        clamped to [DEFAULT_SHARDS, MAX_SHARDS].  Only consulted when a
        store is CREATED (the count pins into the layout); growing later
        is ``tools/resize_shards.py``."""
        n = cls.DEFAULT_SHARDS
        while (
            n < cls.MAX_SHARDS
            and expected_partitions / n > cls.TARGET_ROWS_PER_SHARD
        ):
            n *= 2
        return n

    @classmethod
    def shards_for_consumers(cls, expected_consumers: int) -> int:
        """Shard floor for a declared concurrent-consumer count: next
        power of two >= N, clamped to [DEFAULT_SHARDS, MAX_SHARDS].

        This encodes the measured scaling knee (BASELINE.md
        "consumer-scaling knee"): disjoint cross-process claims hand each
        consumer a sticky shard, so once workers outnumber shards the
        extra workers CONTEND instead of scaling — measured ~5x/worker
        throughput LOSS past the knee at 200k partitions / 8 shards,
        where the partition-based rule alone under-shards for
        concurrency.  The layout wants shards >= workers; the
        partition-based ``shards_for`` remains the row-scan bound, and
        the creation-time hint takes the max of the two."""
        n = cls.DEFAULT_SHARDS
        while n < cls.MAX_SHARDS and n < int(expected_consumers):
            n *= 2
        return n

    def __init__(
        self,
        storage,
        table: str = "locks",
        n_shards: int | None = None,
        expected_partitions: int | None = None,
        expected_consumers: int | None = None,
    ):
        self.table = table
        hint = None
        if n_shards is None and (
            expected_partitions is not None or expected_consumers is not None
        ):
            # a HINT, not a pin: only consulted when this open CREATES
            # the layout; an existing marker wins (and, unlike an
            # explicit n_shards, a mismatching hint is not an error —
            # two racing first-openers with different hints just adopt
            # the winner's count).  The count is the max of the two
            # sizing rules: rows/shard (tick latency) and shards >=
            # consumers (the scaling knee — see shards_for_consumers).
            hint = max(
                self.shards_for(int(expected_partitions))
                if expected_partitions is not None
                else self.DEFAULT_SHARDS,
                self.shards_for_consumers(int(expected_consumers))
                if expected_consumers is not None
                else self.DEFAULT_SHARDS,
            )
        self.n_shards = self._pin_shard_count(storage, table, n_shards, hint)
        # LRU shard paging follows the pinned layout (see class doc):
        # None keeps every shard resident
        self.max_resident = (
            self.MAX_RESIDENT_SHARDS
            if self.n_shards > self.MAX_RESIDENT_SHARDS
            else None
        )
        # Layout pins for the live-resize guard: _verify_layout re-reads these on every read surface and
        # after every shard-lock acquisition.
        self._marker_path = os.path.join(storage.root, f"{table}_SHARDS")
        self._staging_path = _resize_paths(storage, table)[0]
        # A resize that crashed mid-rewrite left its staging export behind;
        # finish it BEFORE any shard frame is loaded (see resize_shards).
        _recover_resize(storage, table, self.n_shards)
        self.shards = [
            LocksLedger(storage, f"{table}_s{i:02d}", lazy=self.max_resident is not None)
            for i in range(self.n_shards)
        ]
        self._use_clock = 0
        self._last_use: dict[int, int] = {}
        # sticky claim shard; pid-seeded start so concurrent consumers
        # begin their first walk on different shards
        self._sticky = os.getpid() % self.n_shards
        # fairness rotation state: every FAIRNESS_EVERY-th claim also
        # probes the rotor's shard (which then advances) — see
        # _fairness_probe
        self._tick = 0
        self._rotor = (self._sticky + 1) % self.n_shards
        # shard -> last observed claim stamp: the live-sibling detector
        # (see _fairness_probe)
        self._fairness_stamp: dict[int, tuple | None] = {}
        # rolling tick-latency window for the operational resize warning:
        # shard count binds tick latency, the count
        # is pinned into the layout, and nothing used to tell an operator
        # the store had outgrown it until they read BASELINE.md
        self._tick_lat: deque = deque(maxlen=self.TICK_WINDOW)
        # rows of the largest shard each tick actually scanned — the
        # second gate of the resize warning (a latency-only trigger
        # false-fired on a noisy box whose shards were 26x UNDER the
        # sizing rule)
        self._tick_rows: deque = deque(maxlen=self.TICK_WINDOW)
        self._tick_count = 0  # monotonic — the deque length saturates
        self._tick_warned_at = 0.0

    @staticmethod
    def _pin_shard_count(
        storage, table: str, requested: int | None, hint: int | None = None
    ) -> int:
        import uuid as _uuid

        marker = os.path.join(storage.root, f"{table}_SHARDS")
        if not os.path.exists(marker):
            # the marker is published before any shard state dir exists,
            # so no marker means a fresh store
            n = requested or hint or ShardedLocksLedger.DEFAULT_SHARDS
            # Atomic first-writer-wins publish: hard-link the fully
            # written tmp into place.  os.link fails with EEXIST when a
            # concurrent opener already published, so two first-openers
            # can never adopt different counts (os.replace was last-wins:
            # opener A could adopt 4 while B overwrote the marker with 8,
            # permanently mis-routing A's acks).  No torn-read window
            # either — the link appears with its full contents (a direct
            # O_EXCL create would expose a readable zero-byte file
            # between create and write).
            tmp = f"{marker}.tmp.{_uuid.uuid4().hex}"
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(str(n))
            try:
                os.link(tmp, marker)
            except FileExistsError:
                pass  # a concurrent first-open won; adopt its count below
            finally:
                os.unlink(tmp)
        with open(marker, encoding="utf-8") as f:
            pinned = int(f.read().strip())
        if requested is not None and requested != pinned:
            raise ValueError(
                f"store layout at {storage.root!r} is sharded "
                f"{table} x{pinned}; opening with n_shards={requested} "
                "would mis-route claims/acks (drop the argument to adopt "
                "the on-disk layout)"
            )
        return pinned

    # ---- LRU shard paging -------------------------------------------- #

    def _note_use(self, k: int) -> None:
        self._use_clock += 1
        self._last_use[k] = self._use_clock

    def _evict_over_budget(self) -> None:
        """Drop least-recently-used shard frames beyond ``max_resident``.
        Called at the end of each self-guarding mutator (never inside a
        shard guard); the sticky shard is by construction the most
        recently used, so steady-state consumers never thrash."""
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

    def _verify_layout(self) -> None:
        """The live-resize guard: cheap
        re-read of the on-disk layout pins, called at the top of every
        read surface and after every shard-lock acquisition in the
        mutators.  ``tools/resize_shards.py`` requires a quiesced store;
        a process that races one must fail LOUDLY — never route
        claims/acks by a stale shard count (writes to orphaned shard
        files) or read a half-staged layout.  Ordering makes the
        after-acquire check sufficient for mutators: the resize takes
        every shard flock BEFORE exporting staging and flips the marker
        before releasing, so a mutator that acquired a flock either runs
        entirely before the export (its writes are captured) or observes
        the flipped marker here.  Two file stats per call — noise next
        to a tick's own IO."""
        if os.path.exists(self._staging_path):
            raise errors.ShardLayoutChangedError(
                self.table,
                self.n_shards,
                "has a resize in progress (or an unrecovered crashed "
                "one: staging export present)",
            )
        with open(self._marker_path, encoding="utf-8") as f:
            cur = int(f.read().strip())
        if cur != self.n_shards:
            raise errors.ShardLayoutChangedError(
                self.table, self.n_shards, f"was resized to {cur} shards"
            )

    def resident_bytes(self) -> int:
        """Driver-resident ledger bytes across all loaded shard frames
        (deep measurement — the number BASELINE.md's scale-ceiling table
        pins)."""
        return sum(s.frame_bytes() for s in self.shards)

    # ---- reads ------------------------------------------------------- #

    def refresh(self) -> None:
        """Bring EVERY shard current — the O(#partitions) read surface
        behind the reference-shaped ``locks()`` view.  Re-enforces the
        residency budget afterwards: a READ-ONLY process
        (e.g. a monitor polling ``locks()``) never runs a mutator tick,
        so without the trailing evict its full-table reads would keep
        the entire ledger resident indefinitely on a paged store."""
        self._verify_layout()
        for k, s in enumerate(self.shards):
            s.refresh()
            self._note_use(k)
        self._evict_over_budget()

    def _ensure_resident(self, k: int) -> "LocksLedger":
        """Load (evicted/lazy) or freshen (resident-but-stale) one shard.
        Always a version-pointer check — one tiny file read — so
        ``to_pandas``/``count`` serve sibling-flushed state without the
        caller issuing a separate full refresh first."""
        s = self.shards[k]
        s.refresh()
        self._note_use(k)
        return s

    def shard_frame(self, k: int) -> pd.DataFrame:
        """One shard's state rows (freshened), with the paging budget
        re-enforced before returning — the public unit of shard-at-a-time
        operational scans (callers previously
        reached into ``_ensure_resident``/``_evict_over_budget``,
        scattering the eviction invariant outside the ledger).  Guarded
        like every other read surface: a racing resize must
        raise ``ShardLayoutChangedError``, not serve a half-staged or
        stale-count layout."""
        self._verify_layout()
        df = self._ensure_resident(k).to_pandas()
        self._evict_over_budget()
        return df

    def shard_frames(self):
        """Iterate ``(shard_index, frame)`` over all shards, one resident
        at a time — peak driver residency stays one shard over the paging
        budget regardless of table size."""
        for k in range(self.n_shards):
            yield k, self.shard_frame(k)

    def to_pandas(self) -> pd.DataFrame:
        # Shard-at-a-time with a rolling evict: the RESULT is O(#rows) by
        # contract (the caller asked for the full table), but the resident
        # shard frames stay within budget+1 even during the read — and are
        # back under budget when it returns.
        self._verify_layout()
        frames = []
        for k in range(self.n_shards):
            frames.append(self._ensure_resident(k).to_pandas())
            self._evict_over_budget()
        return pd.concat(frames, ignore_index=True)

    def count(self) -> int:
        self._verify_layout()
        n = 0
        for k in range(self.n_shards):
            n += self._ensure_resident(k).count()
            self._evict_over_budget()
        return n

    def rows_for(self, view: str, decider_ids: "list[str]") -> pd.DataFrame:
        """State rows for specific (view, decider_id) keys — touches only
        their shards (the RETURNING-clause path on a paged store must not
        fault in the whole ledger).  Missing keys are simply absent, like
        an UPDATE matching zero rows."""
        self._verify_layout()
        by_shard: dict[int, list[str]] = {}
        for d in decider_ids:
            by_shard.setdefault(shard_of(d, self.n_shards), []).append(d)
        parts = []
        for k, ids in by_shard.items():
            s = self._ensure_resident(k)
            pos = s._positions_of([(view, d) for d in ids])
            if pos:
                parts.append(s._df.take(sorted(pos)).reset_index()[_COLS])
        self._evict_over_budget()
        if not parts:
            return _empty_frame().reset_index()[_COLS]
        return pd.concat(parts, ignore_index=True)

    # ---- mutators (self-guarding) ------------------------------------ #

    def upcoming_walk_order(self) -> list[int]:
        """Shard indices in the order the NEXT ``claim`` walk
        will visit them (sticky first)."""
        n = self.n_shards
        return [(self._sticky + i) % n for i in range(n)]

    def upcoming_claims(
        self, view: str, hwm, n: int, first=()
    ) -> list[tuple[str, int]]:
        """Up to ``n`` of ``view``'s partitions with unread events, as
        ``(decider_id, last_offset)``, in the order claims will reach
        them — the delivery read-ahead's warm set:

        - first the ``first`` pairs (claims already made), all of them;
        - then each foreign shard's head, in fairness-rotor order
          (sticky skipped): the probe claims exactly that partition, so
          one slot per shard covers its misses for n_shards x
          FAIRNESS_EVERY ticks;
        - then the walk's shards from the sticky one, each in claim
          order.  The walk drains the sticky shard in full before it
          moves on, so a global hwm-offset order would strand the budget
          on shards the walk will not visit for thousands of ticks.

        Leased partitions are included (a far-future ``now``): their
        events are wanted as soon as the ack lands.  A scan of the
        resident frames under no lock; a shard without rows of the view
        (an evicted one included) is skipped before its hwm shard is
        read, so a paged store never faults the table in here."""
        far = pd.Timestamp.max
        runs: dict[int, list[tuple[str, int]]] = {}
        for k, s in enumerate(self.shards):
            if s._view_slice(view) is None:
                continue
            scan = s._claim_order(view, _shard_hwm(hwm, k), far)
            if scan is not None and scan[3].size:
                _, ids, lo_vals, order = scan
                runs[k] = [(str(ids[i]), int(lo_vals[i])) for i in order[:n]]
        rotor = ((self._rotor + i) % self.n_shards for i in range(self.n_shards))
        heads = [runs[k][0] for k in rotor if k != self._sticky and k in runs]
        walk = (p for k in self.upcoming_walk_order() for p in runs.get(k, ()))
        out = dict(first)
        for d, lo in itertools.chain(heads, walk):
            if len(out) >= n:
                break
            out.setdefault(d, lo)
        return list(out.items())

    def _fairness_probe(self, view, hwm, now, lease_until) -> list[tuple[str, int]]:
        """The starvation guard (every FAIRNESS_EVERY-th claim): inspect
        ONE rotating foreign shard and claim AT MOST ONE partition from
        it, preferring shards that look ORPHANED — no commits since our
        previous inspection.  Why so conservative:

        - a shard a LIVE consumer works cannot starve, and stealing
          from it forces both sides to replay each other's deltas
          (measured on b3c: full-walk fairness cost 2.8x -> 1.5-1.8x
          scaling; this probe form restores ~2.7x);
        - liveness only needs SOMETHING delivered from every shard
          periodically — one partition per FAIRNESS_EVERY x n_shards
          claims bounds every partition's delivery delay without
          creating a second working set on foreign shards;
        - an idle-but-nonempty shard is otherwise reached when some
          consumer's sticky shard drains (walk-on-empty), so the probe
          only matters for the persistent-saturation case.

        Detector: one version-file read + one tiny stamp-file read per
        inspection.  The _CLAIMSTAMP file is written ONLY by consumer
        mutations (claim/ack/nack flushes record {"version", "views"});
        producer writes (T6 insert_missing, T7 upsert) bump the state
        version but never the stamp.  So:

        - stamp advanced since our last probe AND lists OUR view =>
          a live consumer is progressing this view on this shard —
          its partitions are being served, defer (no starvation);
        - anything else (stamp static under version churn = producer-
          only appends; stamp advanced for other views only) => the
          shard is effectively orphaned FOR THIS VIEW: sync once and
          claim.  This is what keeps continuous producer churn — new
          partitions every tick — from deferring the probe forever,
          without ever paying a foreign-shard delta replay while a
          sibling is genuinely consuming our view there (measured on
          b3c: a blind every-Nth forced claim cost ~20% aggregate
          throughput in the all-shards-live drain regime; the stamp
          makes that regime zero-cost again)."""
        n = self.n_shards
        k = self._rotor
        self._rotor = (self._rotor + 1) % n
        if k == self._sticky:
            return []
        s = self.shards[k]
        self._note_use(k)
        v = s.storage.state_version(s.table)
        if v != s._version:
            stamp = s.read_claim_stamp()
            key = (stamp["version"], tuple(stamp.get("views", []))) if stamp else None
            prev = self._fairness_stamp.get(k)
            self._fairness_stamp[k] = key
            if key != prev and stamp and view in stamp.get("views", ()):
                return []  # live consumer progressing OUR view here: defer
            s.refresh()  # orphaned for this view: sync once (claim re-verifies)
        hwm_k = _shard_hwm(hwm, k)
        if not s.has_eligible(view, hwm_k, now):
            return []
        with s.try_guard() as held:
            if not held:
                return []  # busy right now — certainly not starved
            got = s.claim(view, hwm_k, 1, now, lease_until)
        if got:
            # our own claim just bumped the stamp (flush on guard exit);
            # record the post-flush value so the next probe of this shard
            # doesn't mistake our own write for a live sibling
            self._fairness_stamp[k] = (s._version, (view,))
        return got

    def claim(
        self,
        view: str,
        hwm: pd.DataFrame,
        limit: int,
        now,
        lease_until,
    ) -> list[tuple[str, int]]:
        """One consumer tick: lease up to ``limit`` claimable partitions
        (see class doc).  Claims are OPPORTUNISTIC (SKIP LOCKED), with
        one blocking retry only when the whole walk claimed nothing but
        skipped a busy candidate shard."""
        self._verify_layout()
        tick_t0 = time.perf_counter()
        use_clock0 = self._use_clock  # shards touched this tick advance it
        limit = int(limit)
        got: list[tuple[str, int]] = []
        # Fairness probe (starvation guard): the walk always starts at
        # the sticky shard — but when that shard can fill ``limit``
        # indefinitely (continuous appends), the walk would never reach
        # the others and their partitions would never deliver.  Every
        # FAIRNESS_EVERY-th claim therefore additionally probes ONE
        # rotating foreign shard for at most one partition (full
        # detector semantics and the bounded-deferral guarantee in
        # _fairness_probe), while the other ticks keep the affinity
        # that makes concurrent consumers scale.
        self._tick += 1
        if self._tick % self.FAIRNESS_EVERY == 0 and limit > 0:
            got.extend(self._fairness_probe(view, hwm, now, lease_until))
        busy_claimable: list[int] = []
        for k in self.upcoming_walk_order():
            want = limit - len(got)
            if want <= 0:
                break
            s = self.shards[k]
            # Pre-check outside the lock (claim under the lock
            # re-verifies): probe the possibly-STALE frame first — zero
            # IO — and pay the refresh (sibling delta replay) only when
            # the stale frame shows nothing claimable.  Walking past a
            # shard a sibling fully drained then costs one refresh on
            # first visit and nothing after.
            hwm_k = _shard_hwm(hwm, k)
            if not s.has_eligible(view, hwm_k, now):
                s.refresh()
                self._note_use(k)
                if not s.has_eligible(view, hwm_k, now):
                    continue
            with s.try_guard() as held:
                if not held:
                    busy_claimable.append(k)
                    continue
                self._verify_layout()
                self._note_use(k)
                res = s.claim(view, hwm_k, want, now, lease_until)
                if res and not got:
                    self._sticky = k  # first yielding shard = next tick's start
                got.extend(res)
        if not got and busy_claimable:
            # progress guarantee: everything claimable was mid-tick
            # elsewhere — wait once rather than report a falsely empty
            # store to the consumer loop
            for k in busy_claimable:
                s = self.shards[k]
                self._note_use(k)
                with s.guard():
                    self._verify_layout()
                    res = s.claim(
                        view, _shard_hwm(hwm, k), limit - len(got), now, lease_until
                    )
                if res:
                    self._sticky = k
                    got.extend(res)
                if len(got) >= limit:
                    break
        self._evict_over_budget()
        # rows of the largest shard this tick scanned (touched = advanced
        # the LRU use clock; only still-resident frames are sampled —
        # zero IO either way)
        touched_rows = max(
            (
                self.shards[k].count()
                for k, u in self._last_use.items()
                if u > use_clock0 and self.shards[k].resident
            ),
            default=0,
        )
        self._note_tick_latency(time.perf_counter() - tick_t0, touched_rows)
        return got

    def _note_tick_latency(self, dt: float, shard_rows: int = 0) -> None:
        """The shard-sizing early-warning: when the
        rolling p95 ``claim`` latency crosses TICK_P95_WARN_S AND
        the shards those ticks scanned actually exceed the
        TARGET_ROWS_PER_SHARD sizing rule, log ONE actionable line naming
        the fix.  Both gates are required: p95
        alone false-fired on a noisy measurement box whose shards were
        26x UNDER the rule — latency without oversized shards is the BOX,
        not the layout, and a resize would do nothing.  The recommended
        count is derived from the measured rows/shard and clamped to
        MAX_SHARDS (the old ``n_shards*4`` recommendation
        could exceed the supported maximum); at MAX_SHARDS the warning is
        suppressed entirely — there is no resize left to recommend.
        Re-warns at most hourly; sampling costs a deque append per tick
        and a 128-float sort every 16th."""
        self._tick_lat.append(dt)
        self._tick_rows.append(int(shard_rows))
        self._tick_count += 1
        # throttle on the MONOTONIC counter (the deque length
        # saturates at TICK_WINDOW, and 128 % 16 == 0 made the old
        # len()-based guard fire every tick once the window filled)
        if self._tick_count < self.TICK_WINDOW or self._tick_count % 16:
            return
        if self.n_shards >= self.MAX_SHARDS:
            return  # already at the layout ceiling: nothing to recommend
        lat = sorted(self._tick_lat)
        p95 = lat[int(len(lat) * 0.95)]
        if p95 < self.TICK_P95_WARN_S:
            return
        rows = sorted(self._tick_rows)
        rows_p50 = rows[len(rows) // 2]
        if rows_p50 <= self.TARGET_ROWS_PER_SHARD:
            return  # slow box, not an outgrown layout
        now = time.monotonic()
        if now - self._tick_warned_at < 3600 and self._tick_warned_at:
            return
        self._tick_warned_at = now
        rec = min(
            self.MAX_SHARDS,
            max(self.n_shards * 2, self.shards_for(rows_p50 * self.n_shards)),
        )
        logger.warning(
            "locks ledger tick p95 %.0f ms over the last %d ticks exceeds "
            "%.0f ms and scanned shards hold ~%d rows (rule: <= %d "
            "rows/shard): the store has outgrown its %d-shard layout "
            "(claim scans are O(partitions/shard)); during a maintenance "
            "window run `python tools/resize_shards.py --store <store_path> "
            "--shards %d` — and if you run concurrent consumers, size "
            "shards >= next_pow2(workers) too (the scaling knee; declare "
            "it at creation with EventStore(expected_consumers=N)) "
            "(see BASELINE.md sizing rule)",
            p95 * 1000,
            len(lat),
            self.TICK_P95_WARN_S * 1000,
            rows_p50,
            self.TARGET_ROWS_PER_SHARD,
            self.n_shards,
            rec,
        )

    def ack(self, view: str, acks: list[tuple[str, int]], now) -> None:
        by_shard: dict[int, list[tuple[str, int]]] = {}
        for d, o in acks:
            by_shard.setdefault(shard_of(d, self.n_shards), []).append((d, o))
        for i, shard_acks in by_shard.items():
            s = self.shards[i]
            self._note_use(i)
            with s.guard():
                self._verify_layout()
                s.ack(view, shard_acks, now)
        self._evict_over_budget()

    def set_locked_until(self, view: str, decider_id: str, until, now) -> None:
        k = shard_of(decider_id, self.n_shards)
        s = self.shards[k]
        self._note_use(k)
        with s.guard():
            self._verify_layout()
            s.set_locked_until(view, decider_id, until, now)
        self._evict_over_budget()

    def _split(self, rows: pd.DataFrame) -> list[tuple[int, pd.DataFrame]]:
        shard = rows["decider_id"].map(lambda d: shard_of(d, self.n_shards))
        return [(int(i), g.drop(columns="_shard")) for i, g in
                rows.assign(_shard=shard).groupby("_shard")]

    def insert_missing(self, rows: pd.DataFrame) -> None:
        if rows.empty:
            return
        for i, part in self._split(rows):
            s = self.shards[i]
            self._note_use(i)
            with s.guard():
                self._verify_layout()
                s.insert_missing(part)
        self._evict_over_budget()

    def upsert(self, rows: pd.DataFrame) -> None:
        if rows.empty:
            return
        for i, part in self._split(rows):
            s = self.shards[i]
            self._note_use(i)
            with s.guard():
                self._verify_layout()
                s.upsert(part)
        self._evict_over_budget()

    def delete_view(self, view: str) -> None:
        for k, s in enumerate(self.shards):
            self._note_use(k)
            with s.guard():
                self._verify_layout()
                s.delete_view(view)
        self._evict_over_budget()


# --------------------------------------------------------------------- #
# Offline shard-count resize.  The claim-tick scan is O(rows) per
# visited shard (BASELINE.md tick-latency curve), so deployments growing
# toward 10^8 partitions raise the shard count — but the count is pinned
# into the on-disk layout (crc32 % N routing).  resize_shards re-routes
# the whole consumer state into a new count, crash-safely:
#
#   1. export every row to a STAGING parquet (atomic replace, durable)
#   2. rewrite all new-layout shard snapshots
#   3. atomically replace the <table>_SHARDS marker
#   4. delete staging
#
# The staging file is the recovery authority: any opener finding it
# (crash between 1 and 4) rebuilds every shard of the CURRENT marker's
# layout from it before touching shard state — so a crash before the
# marker flip restores the old layout and a crash after it completes the
# new one, idempotently.  Callers must QUIESCE the store first (stop
# consumers/producers); the resize takes every old shard's flock plus a
# dedicated resize lock to block stragglers, but a LIVE ledger instance
# in another process would keep routing by the old count — this is a
# maintenance-window operation, like re-sharding any keyed store.
# --------------------------------------------------------------------- #


def _resize_paths(storage, table: str) -> tuple[str, str]:
    return (
        os.path.join(storage.root, f"{table}_RESIZE_STAGING.parquet"),
        os.path.join(storage.root, f"{table}_RESIZE.lock"),
    )


def _rebuild_shards(storage, table: str, n_shards: int, allrows: pd.DataFrame) -> None:
    """Write a full snapshot of every shard 0..n_shards-1 from the staged
    export (empty shards included — they must overwrite stale content)."""
    shard = (
        allrows["decider_id"].map(lambda d: shard_of(d, n_shards))
        if len(allrows)
        else pd.Series(dtype="int64")
    )
    for k in range(n_shards):
        part = allrows[shard == k] if len(allrows) else allrows
        t = f"{table}_s{k:02d}"
        os.makedirs(os.path.join(storage.root, f"{t}_state"), exist_ok=True)
        storage.write_state_pandas(t, part[_COLS])


def _recover_resize(storage, table: str, n_shards: int) -> None:
    """Finish a crashed resize: rebuild the current marker's layout from
    the staging export, then clear it.  No-op when no staging exists."""
    staging, lock_path = _resize_paths(storage, table)
    if not os.path.exists(staging):
        return
    lock = ProcessLock(lock_path)
    with lock.held(timeout_s=300):
        if not os.path.exists(staging):  # a sibling finished recovery
            return
        allrows = pd.read_parquet(staging)
        _rebuild_shards(storage, table, n_shards, allrows)
        # a crashed resize may have died before clearing the derived hwm
        # layout (see resize_shards step 3b) — clear it here too
        from fstore_sql_spark.hwm import clear_hwm_layout

        clear_hwm_layout(storage)
        os.unlink(staging)


def resize_shards(storage, table: str, new_n_shards: int) -> int:
    """Re-shard the consumer-state ledger to ``new_n_shards`` (offline
    maintenance — quiesce the store first; see module comment above).
    Returns the new count."""
    if new_n_shards < 1:
        raise ValueError(f"new_n_shards must be >= 1: {new_n_shards}")
    staging, lock_path = _resize_paths(storage, table)
    lock = ProcessLock(lock_path)
    with lock.held(timeout_s=300):
        # finish any crashed predecessor before reading the layout
        if os.path.exists(staging):
            marker = os.path.join(storage.root, f"{table}_SHARDS")
            with open(marker, encoding="utf-8") as f:
                cur = int(f.read().strip())
            _rebuild_shards(storage, table, cur, pd.read_parquet(staging))
            os.unlink(staging)
        old = ShardedLocksLedger(storage, table)
        if old.n_shards == new_n_shards:
            return new_n_shards
        # quiesce stragglers: hold every old shard's flock for the duration
        for s in old.shards:
            s._plock.acquire(timeout_s=300)
        try:
            old.refresh()
            allrows = old.to_pandas()
            # 1. durable staging export (atomic publish)
            tmp = f"{staging}.tmp.{os.getpid()}"
            allrows.to_parquet(tmp)
            fd = os.open(tmp, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
            os.replace(tmp, staging)
            # 2. rewrite the new layout's shards
            _rebuild_shards(storage, table, new_n_shards, allrows)
            # 3. commit: atomic marker replace
            marker = os.path.join(storage.root, f"{table}_SHARDS")
            mtmp = f"{marker}.tmp.{os.getpid()}"
            with open(mtmp, "w", encoding="utf-8") as f:
                f.write(str(new_n_shards))
            os.replace(mtmp, marker)
            # 3b. the DERIVED hwm layout shares this routing — clear it so
            # the next open rebuilds at the new count (leaving it
            # would mis-route watermark lookups and stall delivery).
            # Before the staging unlink: a crash here re-runs recovery,
            # which clears again (idempotent).
            from fstore_sql_spark.hwm import clear_hwm_layout

            clear_hwm_layout(storage)
            # 4. staging no longer needed
            os.unlink(staging)
        finally:
            for s in old.shards:
                s._plock.release()
    return new_n_shards
