"""Offline shard-count resize for the consumer-state ledger.

The claim-tick scan is O(rows) per visited shard (BASELINE.md tick-latency
curve), so deployments growing toward 10^8 partitions raise the shard
count.  QUIESCE the store first (stop all producers/consumers): a live
ledger instance in another process keeps routing by the old count.
Crash-safe — an interrupted resize is finished by the next opener from
the staging export (see fstore_sql_spark.ledger.resize_shards).

Usage: python tools/resize_shards.py --store /path/to/store --shards 64
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fstore_sql_spark.ledger import resize_shards  # noqa: E402
from fstore_sql_spark.storage import ParquetStore  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True, help="EventStore root path")
    ap.add_argument("--shards", type=int, required=True)
    ap.add_argument("--table", default="locks")
    args = ap.parse_args()
    n = resize_shards(ParquetStore(None, args.store), args.table, args.shards)
    print(f"{args.table} resized to {n} shards")


if __name__ == "__main__":
    main()
