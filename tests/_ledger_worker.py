"""Spawn-safe child-process workers for the cross-process ledger tests.

Kept outside the test module so ``multiprocessing`` spawn children import
only pandas/pyarrow plumbing — no pytest, no SparkSession."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone


def _now():
    return datetime.now(timezone.utc).replace(tzinfo=None)


def claim_worker(root: str, out_path: str, rounds: int, limit: int) -> None:
    """One consumer process: its own ShardedLocksLedger over the shared
    path (the store's real claim path), claiming in a loop — the
    two-EventStore-processes-one-store scenario (the reference's
    concurrent-connection claim test shape).  ``rounds`` is a CAP, not a
    fixed count: a round may legitimately return short when the sibling
    holds a shard lock at that instant (SKIP LOCKED semantics), so the
    worker keeps claiming until 3 consecutive empty rounds — on a loaded
    box a fixed round count made the parent's exact-coverage assert
    flaky (r7)."""
    import time as _time

    import pandas as pd

    from fstore_sql_spark.ledger import ShardedLocksLedger
    from fstore_sql_spark.storage import ParquetStore

    ledger = ShardedLocksLedger(ParquetStore(None, root))
    hwm = pd.read_parquet(os.path.join(root, "hwm.parquet")).set_index("decider_id")
    claims: list[str] = []
    empties = 0
    for _ in range(rounds):
        got = ledger.claim("v", hwm, limit, _now(), _now() + timedelta(seconds=300))
        claims.extend(d for d, _ in got)
        if got:
            empties = 0
        else:
            empties += 1
            if empties >= 3:
                break
            _time.sleep(0.02)
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(claims, f)


def lock_counter_worker(root: str, iters: int) -> None:
    """Increment a shared file counter under ProcessLock — lost updates
    reveal a broken mutex."""
    from fstore_sql_spark.ledger import ProcessLock

    lock = ProcessLock(os.path.join(root, "_PROCLOCK"))
    counter = os.path.join(root, "counter.txt")
    for _ in range(iters):
        with lock.held():
            with open(counter, encoding="utf-8") as f:
                n = int(f.read().strip())
            with open(counter, "w", encoding="utf-8") as f:
                f.write(str(n + 1))


def claim_and_hang_worker(root: str, out_path: str, limit: int, lease_s: float) -> None:
    """Crash-recovery probe: claim ``limit`` partitions with a short
    lease, record them, then grab shard 0's process lock and hang —
    the parent SIGKILLs this process while the flock is HELD.  The
    kernel must release the lock (no TTL-steal protocol), and the
    dead consumer's leases must redeliver after expiry."""
    import json as _json
    import time as _time

    import pandas as pd

    from fstore_sql_spark.ledger import ShardedLocksLedger
    from fstore_sql_spark.storage import ParquetStore

    ledger = ShardedLocksLedger(ParquetStore(None, root))
    hwm = pd.read_parquet(os.path.join(root, "hwm.parquet")).set_index("decider_id")
    now = _now()
    got = ledger.claim("v", hwm, limit, now, now + timedelta(seconds=lease_s))
    with open(out_path, "w", encoding="utf-8") as f:
        _json.dump([d for d, _ in got], f)
    ledger.shards[0]._plock.acquire()
    _time.sleep(120)  # parent kills us long before this
