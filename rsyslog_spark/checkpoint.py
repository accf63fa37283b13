"""Per-partition lineage / checkpoint table — idempotent resume.

Reference: disk queues persist a ``.qi`` queue-info file so a restart
resumes where it left off (qqueuePersist, runtime/queue.c:176, body near
queue.c:2866; checkpoint modes queue.c:1682). Our batch-first analog is a
LINEAGE TABLE keyed by (run_id, partition_id): each partition of the
input commits a row with its row_count and parse_failure count once its
sink writes succeed; a re-run of the same run_id SKIPS partitions that
already committed — exactly-once at partition granularity, as the sink
writes are keyed by the same ``partition_id`` (see run_with_resume).

Partition identity must be stable across runs, so it is derived from the
DATA (hash-bucket of conv_id), not from Spark task ids.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "run_id string, partition_id int, row_count long, parse_failures long, "
    "status string, committed_at double"
)


def with_partition_id(df: DataFrame, n_buckets: int = 256,
                      key: str = "conv_id") -> DataFrame:
    """Stable data-derived partition id: hash-bucket of the conv key.

    pmod(hash) is deterministic for a given Spark version + key set, so
    the same rows land in the same lineage bucket on every run."""
    return df.withColumn(
        "partition_id", F.pmod(F.hash(F.col(key)), F.lit(n_buckets)).cast("int")
    )


class LineageLog:
    """Lineage table over a directory of parquet (Iceberg table in prod)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def committed_partitions(self, run_id: str) -> list[int]:
        try:
            df = self.spark.read.parquet(self.path)
        except Exception:
            return []
        return [
            r["partition_id"]
            for r in df.filter(
                (F.col("run_id") == run_id) & (F.col("status") == "committed")
            )
            .select("partition_id")
            .distinct()
            .collect()
        ]

    def commit(self, df: DataFrame, run_id: str) -> DataFrame:
        """Append one committed row per partition with its row count and
        parse-failure count (the north-rule lineage payload).

        ``parse_failures`` is null (unknown) when ``df`` has no
        ``parse_success``, as for ``run_with_resume``, which commits its
        raw bucketed input: per-partition counts there need the commit
        to see the annotated frame (ROADMAP direction 2)."""
        pf = (
            F.sum((~F.col("parse_success")).cast("long"))
            if "parse_success" in df.columns
            else F.lit(None).cast("long")
        )
        stats = (
            df.groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("row_count"),
                pf.alias("parse_failures"),
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("status", F.lit("committed"))
            .withColumn("committed_at", F.lit(time.time()))
            .select(
                "run_id", "partition_id", "row_count", "parse_failures",
                "status", "committed_at",
            )
        )
        stats.write.mode("append").parquet(self.path)
        return stats


def run_with_resume(
    spark: SparkSession,
    df: DataFrame,
    run_id: str,
    lineage_path: str,
    process,  # callable: DataFrame -> None (performs the sink writes)
    n_buckets: int = 256,
) -> dict:
    """Drive one resumable run: bucket -> skip committed -> process ->
    commit lineage. Returns {'processed_partitions': n, 'skipped': m}.

    Exactly-once holds when ``process`` writes with ``fan_out``'s
    ``key="partition_id"``: a resume (or a re-run after a crash between
    the writes and the commit) replaces only its own buckets' partitions.
    An output path belongs to one run id, as a streaming sink path
    belongs to one checkpoint."""
    log = LineageLog(spark, lineage_path)
    bucketed = with_partition_id(df, n_buckets=n_buckets)
    done = log.committed_partitions(run_id)
    # resume: a partition re-runs only if its commit row is absent
    todo = (bucketed.filter(~F.col("partition_id").isin(done)) if done
            else bucketed)
    n_todo = todo.select("partition_id").distinct().count()
    if n_todo:
        process(todo)
        log.commit(todo, run_id)
    return {"processed_partitions": n_todo, "skipped": len(done)}
