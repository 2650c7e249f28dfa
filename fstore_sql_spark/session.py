"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]``; the configuration below is written so the
same settings are correct on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting)
- broadcast threshold raised to 32 MB (Spark's default is 10 MB); engine
  code still marks small dimensions with ``F.broadcast`` explicitly
  instead of relying on stats
- session timezone UTC, matching the reference test env
  (``/root/reference/tests/setup/test-database.sql:69`` sets UTC)
- Arrow enabled for the Pandas-UDF operators (vectorized Python boundary)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fstore-sql-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size this to ~2-3x total executor cores and let AQE
    coalesce; locally, matching cores avoids tiny-task overhead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # tz-less parquet timestamps read as session-zone TIMESTAMP, not
        # TIMESTAMP_NTZ — keeps epoch arithmetic (cast to long) legal and
        # matches how the DuckDB oracle treats the same naive timestamps.
        .config("spark.sql.parquet.inferTimestampNTZType", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
