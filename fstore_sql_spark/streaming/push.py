"""Push delivery — the Spark-native ``schedule_events`` (A10).

Reference dataflow (/root/reference/extensions.sql:29-57, SURVEY.md §2.7):
pg_cron wakes every ``v_schedule`` → ``stream_events(view, 1)`` claims one
event → ``net.http_post`` sends ``{view, decider_id, offset, data}`` to the
edge-function URL → the lease expires unless the edge function calls
``ack_event`` back.  T8/T9/T10 (/root/reference/extensions.sql:61-126)
create/re-schedule/remove the cron job when a view row changes.

Spark mapping: one named StreamingQuery per view.  A rate source provides
the clock tick (``Trigger.ProcessingTime(pooling_delay_s)`` ⇔ the cron
schedule); ``foreachBatch`` runs the claim→POST step against the store's
current snapshot.  ``cron.schedule/unschedule`` ⇔ query start/stop; the
query NAME is the view name, exactly like the reference's job naming.

Faithful detail: the service never acks — at-least-once delivery relies on
the consumer acking, else lease expiry redelivers (README.md:135).
"""

from __future__ import annotations

import json
import logging
import threading
import time
import urllib.request
from collections import deque
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from fstore_sql_spark.store import EventStore

logger = logging.getLogger("fstore_sql_spark.push")


def http_post(url: str, payload: dict) -> int:
    """Default transport (pg_net analogue).  Returns the HTTP status."""
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=10) as resp:  # noqa: S310
        return resp.status


class _Backlog:
    """Bounded outstanding-POST tracker: the executor's work queue is
    unbounded, so the delivery tick checks this BEFORE claiming and skips
    the round when too many sends are still in flight (hung endpoint)."""

    def __init__(self, cap: int):
        self.cap = cap
        self._futures: list = []
        self._lock = threading.Lock()

    def _prune(self) -> None:
        self._futures = [f for f in self._futures if not f.done()]

    def full(self) -> bool:
        with self._lock:
            self._prune()
            return len(self._futures) >= self.cap

    def track(self, future) -> None:
        with self._lock:
            self._futures.append(future)


class PushDelivery:
    """Manages one push StreamingQuery per registered view.

    ``sync()`` reconciles running queries with the ``views`` table —
    the T8 (start on insert), T9 (restart/stop on update) and T10 (stop on
    delete) trigger semantics in one idempotent pass.
    """

    def __init__(
        self,
        store: EventStore,
        post=http_post,
        batch_limit: int = 1,
        max_parallel_posts: int = 8,
        mode: str = "driver",
        fanout_partitions: int = 8,
        ack_on_success: bool | None = None,
    ):
        """``mode``:

        - ``"driver"`` (default) — POSTs run on a bounded driver-side
          thread pool, parity with pg_net's single background worker
          (/root/reference/extensions.sql:44-47).  The service never
          acks; the edge function acks back (reference contract).
        - ``"executor"`` — each tick's claimed batch is parallelized to
          ``fanout_partitions`` Spark partitions and every EXECUTOR posts
          its slice (``mapPartitions``), so high-fanout deployments don't
          serialize all views' HTTP through the driver.  Successful
          (2xx) sends are acked back in ONE batched ``ack_events`` per
          tick (``ack_on_success``, default True in this mode: a 2xx
          response IS the consumer's consumption acknowledgment —
          endpoints that must defer consumption should ack via the API
          and run with ``ack_on_success=False``).  Failed/hung sends are
          simply not acked: lease expiry redelivers, exactly as in
          driver mode.  The same backlog cap bounds in-flight delivery
          JOBS, so a hung endpoint skips ticks instead of queueing
          unboundedly.
        """
        if mode not in ("driver", "executor"):
            raise ValueError(f"mode must be 'driver' or 'executor': {mode!r}")
        self.store = store
        self.post = post
        self.mode = mode
        self.fanout_partitions = int(fanout_partitions)
        self.ack_on_success = (
            (mode == "executor") if ack_on_success is None else bool(ack_on_success)
        )
        # stream_events(view, 1) per tick, mirroring extensions.sql:40-42.
        self.batch_limit = batch_limit
        # ASYNC transport, matching pg_net's background-worker semantics
        # (/root/reference/extensions.sql:44-47): POSTs are submitted to a
        # bounded pool and the tick returns immediately — one slow or dead
        # endpoint can neither stall the delivery tick nor block other
        # partitions' sends.  A failed/hung POST is simply never acked, so
        # lease expiry redelivers (the same recovery pg_net relies on).
        self._max_parallel_posts = max_parallel_posts
        self._pool = ThreadPoolExecutor(
            max_workers=max_parallel_posts, thread_name_prefix="push-post"
        )
        self._pool_closed = False
        self._queries: dict[str, StreamingQuery] = {}
        # (pooling_delay_s, edge_function_url) each query was STARTED
        # with — sync() compares against the views table to implement
        # T9's restart-on-update (membership alone kept
        # posting to a decommissioned URL forever)
        self._configs: dict[str, tuple] = {}
        # outstanding POSTs: bound the backlog, not just the workers
        self._backlog = _Backlog(cap=max_parallel_posts * 4)
        # cron.job_run_details analogue: one record per delivery tick,
        # pruned by housekeeping() (the reference schedules a daily
        # ``delete_<view>`` cron for exactly this,
        # /root/reference/extensions.sql:69-70).  Bounded so a forgotten
        # housekeeping job can't leak memory either.
        self.run_details: deque = deque(maxlen=100_000)
        self._run_details_lock = threading.Lock()
        # executor-mode delivery-JOB failures: a job() dying
        # inside the pool — unpicklable custom post, Spark submission
        # error, ack failure — used to vanish in an unobserved Future,
        # degenerating into a silent claim→expire→reclaim loop.  Bounded;
        # each entry is (view, repr(exc)).  Also logged.
        self.job_errors: deque = deque(maxlen=1000)

    # ------------------------------------------------------------------ #

    def start(self, view: str) -> StreamingQuery:
        """T8: start the named push query for a view with a non-null
        pooling_delay_s (/root/reference/extensions.sql:61-81)."""
        if view == self._HOUSEKEEPING:
            # the maintenance query shares the _queries map; a view with
            # the reserved name would silently kill housekeeping and then
            # be skipped by sync() forever
            raise ValueError(f"view name {view!r} is reserved")
        cfg = self.store.views().filter(F.col("view") == view).collect()
        if not cfg:
            raise ValueError(f"view {view!r} is not registered")
        row = cfg[0]
        delay = row["pooling_delay_s"]
        url = row["edge_function_url"]
        if delay is None:
            raise ValueError(f"view {view!r} has no pooling_delay_s (client-pull view)")
        if url is None:
            # a None URL would claim + lease every tick and post into
            # urllib's ValueError (swallowed) — an undiagnosable
            # claim/expire blackhole; fail at start instead
            raise ValueError(f"view {view!r} has no edge_function_url")
        if view in self._queries:
            self.stop(view)
        if self._pool_closed:  # restarted after stop_all → fresh pool
            self._pool = ThreadPoolExecutor(
                max_workers=self._max_parallel_posts, thread_name_prefix="push-post"
            )
            self._pool_closed = False

        store, post, limit = self.store, self.post, self.batch_limit

        pool = self._pool

        def send(payload: dict) -> None:
            try:
                post(url, payload)
            except Exception:  # noqa: BLE001 — no ack ⇒ lease-expiry retry
                pass

        record = self._record_run
        backlog = self._backlog

        def _driver_deliver(_batch_df, _batch_id) -> None:
            try:
                # Backpressure BEFORE claiming: with a hung endpoint the
                # executor's queue is unbounded — claiming anyway would
                # enqueue event payloads without limit until the driver
                # OOMs.  Skipping the tick leaves events unleased; they
                # deliver when the endpoint drains.
                if backlog.full():
                    return
                # The tick payload is ignored; the claim runs on the
                # store's current snapshot (extensions.sql:40-42:
                # stream_events LIMIT 1).
                events = store.stream_events(view, limit=limit).collect()
                record(view, len(events))
                for ev in events:
                    backlog.track(
                        pool.submit(
                            send,
                            {
                                # jsonb_build_object shape, extensions.sql:46
                                "view": view,
                                "decider_id": ev["decider_id"],
                                "offset": ev["offset"],
                                "data": ev["data"],
                            },
                        )
                    )
            except Exception:  # noqa: BLE001
                # a transient claim error (sibling holding a shard lock
                # past timeout, a storage hiccup) must not TERMINATE the
                # StreamingQuery — the reference's cron job just fires
                # again next tick; un-acked leases expire and redeliver
                pass

        fanout = self.fanout_partitions
        ack_on_success = self.ack_on_success

        exec_post = post
        if self.mode == "executor" and post is http_post:
            # ship a SELF-CONTAINED twin of the default transport: a
            # module-level function pickles by reference and would
            # require the package on every python worker's sys.path;
            # this local def pickles by value (stdlib only)
            def exec_post(url, payload):  # noqa: ANN001
                import json as _json
                import urllib.request as _rq

                req = _rq.Request(
                    url,
                    data=_json.dumps(payload).encode("utf-8"),
                    headers={"Content-Type": "application/json"},
                    method="POST",
                )
                with _rq.urlopen(req, timeout=10) as resp:  # noqa: S310
                    return resp.status

        def _executor_deliver(_batch_df, _batch_id) -> None:
            try:
                # Backpressure BEFORE claiming (same cap as driver mode):
                # here the backlog tracks in-flight delivery JOBS — a
                # hung endpoint makes jobs pile up, and claiming more
                # while they do would lease events nobody can send.
                if backlog.full():
                    return
                rows = store.stream_events(view, limit=limit).collect()
                record(view, len(rows))
                if not rows:
                    return
                payloads = [
                    {
                        "view": view,
                        "decider_id": r["decider_id"],
                        "offset": r["offset"],
                        "data": r["data"],
                    }
                    for r in rows
                ]

                # Defined LOCALLY so cloudpickle ships it BY VALUE —
                # Spark python workers need no importable package on
                # their sys.path to run it.
                def post_slice(items):
                    ok = []
                    for p in items:
                        try:
                            status = exec_post(url, p)
                            if status is None or 200 <= int(status) < 300:
                                ok.append((p["decider_id"], p["offset"]))
                        except Exception:  # noqa: BLE001 — no ack ⇒ retry
                            pass
                    return iter(ok)

                def job():
                    sc = store.spark.sparkContext
                    slices = max(1, min(len(payloads), fanout))
                    succ = (
                        sc.parallelize(payloads, slices)
                        .mapPartitions(post_slice)
                        .collect()
                    )
                    if succ and ack_on_success:
                        # ONE batched ack per tick for every 2xx send
                        store.ack_events(
                            view,
                            [(d, int(o)) for d, o in succ],
                            returning=False,
                        )

                job_errors = self.job_errors

                def observe(fut) -> None:
                    exc = fut.exception()
                    if exc is not None:
                        job_errors.append((view, repr(exc)))
                        logger.warning(
                            "push delivery job for view %r failed (events "
                            "stay leased until expiry, then redeliver): %r",
                            view,
                            exc,
                        )

                fut = pool.submit(job)
                fut.add_done_callback(observe)
                backlog.track(fut)
            except Exception:  # noqa: BLE001 — same never-kill-the-query rule
                logger.debug("push tick for view %r skipped", view, exc_info=True)

        deliver = _executor_deliver if self.mode == "executor" else _driver_deliver

        q = (
            self.store.spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
            .writeStream.queryName(view)
            .trigger(processingTime=f"{int(delay)} seconds")
            .foreachBatch(deliver)
            .start()
        )
        self._queries[view] = q
        self._configs[view] = (delay, url)
        return q

    def stop(self, view: str) -> None:
        """T10 / cron.unschedule analogue
        (/root/reference/extensions.sql:113-126)."""
        q = self._queries.pop(view, None)
        self._configs.pop(view, None)
        if q is not None:
            q.stop()

    def sync(self) -> dict[str, str]:
        """T8+T9+T10 in one reconciliation pass: start queries for push
        views, stop queries whose view was deleted or switched to pull."""
        actions: dict[str, str] = {}
        push_cfg = {
            r["view"]: (r["pooling_delay_s"], r["edge_function_url"])
            for r in self.store.views()
            .filter("pooling_delay_s IS NOT NULL")
            .select("view", "pooling_delay_s", "edge_function_url")
            .collect()
        }
        for view in list(self._queries):
            if view == self._HOUSEKEEPING:  # maintenance job, not a view
                continue
            if view not in push_cfg:
                self.stop(view)
                actions[view] = "stopped"
        for view, cfg in push_cfg.items():
            if view not in self._queries or not self._queries[view].isActive:
                self.start(view)
                actions[view] = "started"
            elif self._configs.get(view) != cfg:
                # T9 restart-on-UPDATE (extensions.sql:84-110): the view
                # row changed its schedule or URL — re-create the query,
                # exactly like the reference re-schedules the cron job
                self.start(view)  # start() stops the old query first
                actions[view] = "restarted"
        return actions

    def stop_all(self) -> None:
        for view in list(self._queries):
            self.stop(view)
        self.stop_housekeeping()
        self._pool.shutdown(wait=False, cancel_futures=True)
        self._pool_closed = True

    # ------------------------------------------------------------------ #
    # T8 housekeeping cron analogue (/root/reference/extensions.sql:69-70:
    # a daily ``delete_<view>`` job prunes cron.job_run_details older than
    # one day).  Here the run log is in-process (run_details) and the
    # store-side fragmentation cleanup (maybe_compact) rides the same
    # maintenance tick — the Spark analogue of the DB doing VACUUM-ish
    # work on a cron.
    # ------------------------------------------------------------------ #

    _HOUSEKEEPING = "_housekeeping"

    def _record_run(self, view: str, n_events: int) -> None:
        with self._run_details_lock:
            self.run_details.append((view, time.time(), n_events))

    def housekeeping(
        self, older_than_s: float = 86_400.0, max_files: int = 64
    ) -> dict:
        """One maintenance pass: prune run records older than
        ``older_than_s`` and compact the event log if fragmented.
        Idempotent and synchronous — callable directly (tests, manual
        maintenance windows) or from the scheduled query."""
        cutoff = time.time() - older_than_s
        with self._run_details_lock:
            before = len(self.run_details)
            kept = [r for r in self.run_details if r[1] >= cutoff]
            self.run_details.clear()
            self.run_details.extend(kept)
            pruned = before - len(kept)
        try:
            compacted = self.store.maybe_compact(max_files=max_files)
        except Exception:  # noqa: BLE001 — never let maintenance kill ticks
            compacted = None
        return {"pruned_runs": pruned, "compacted_to_files": compacted}

    def start_housekeeping(
        self,
        interval_s: int = 60,
        older_than_s: float = 86_400.0,
        max_files: int = 64,
    ) -> StreamingQuery:
        """Schedule housekeeping as its own named StreamingQuery — the
        ``cron.schedule('delete_<view>', '0 12 * * *', ...)`` analogue
        (daily-noon in the reference; interval-based here)."""
        if self._HOUSEKEEPING in self._queries:
            self.stop(self._HOUSEKEEPING)

        def tick(_batch_df, _batch_id) -> None:
            self.housekeeping(older_than_s=older_than_s, max_files=max_files)

        q = (
            self.store.spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
            .writeStream.queryName(self._HOUSEKEEPING)
            .trigger(processingTime=f"{int(interval_s)} seconds")
            .foreachBatch(tick)
            .start()
        )
        self._queries[self._HOUSEKEEPING] = q
        return q

    def stop_housekeeping(self) -> None:
        if self._HOUSEKEEPING in self._queries:
            self.stop(self._HOUSEKEEPING)
