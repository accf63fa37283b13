"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same settings are what we would
ship to a multi-executor cluster via ``spark-submit --py-files`` (AQE on,
Arrow on, sensible shuffle partitioning). Nothing here is local-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """Cores this process may run on (its CPU affinity), capped by
    ``SPARK_GRAFT_CPUS`` when that is set."""
    n = len(os.sched_getaffinity(0))
    cap = os.environ.get("SPARK_GRAFT_CPUS")
    return min(n, int(cap)) if cap else n


def get_spark(
    app_name: str = "rsyslog_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE enabled: runtime coalescing of shuffle partitions + skew-join
      splitting — our first line of defense against hot conv_id skew.
    - Arrow enabled: the parse UDFs move data JVM<->Python in columnar
      batches (reference moves messages in batches of 128, queue.c:1534;
      we move them in Arrow batches of 10k).
    - Broadcast threshold raised: lookup/dimension tables are always
      broadcast (reference lookup tables are in-memory hashes, lookup.c).
    """
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
