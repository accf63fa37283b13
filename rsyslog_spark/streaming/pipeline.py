"""Streaming parse → enrich → route → sink pipeline.

Shape: ``readStream`` on the transcript table directory → the SAME
batch pipeline (``run_flagship``: with_parsed / enrich / RouteCompiler /
``sinks.fan_out``) per micro-batch via ``foreachBatch``.

foreachBatch is deliberate, not a fallback: rsyslog's action commit is
per dequeued batch (actionCommitAllDirect, runtime/action.c:1617-1635,
called at batch end ruleset.c:672-675), so micro-batch = the reference's
transaction unit. Each micro-batch is tagged with its ``batch_id`` and
written by the batch writer with ``key="batch_id"``: every sink table is
partitioned by ``batch_id`` first and written with dynamic partition
overwrite, so a batch replayed after a crash (some sinks written, the
checkpoint not yet committed) overwrites its own partitions instead of
appending duplicates — replay + idempotent write = effective
exactly-once for the sink tables; the streaming checkpoint (WAL +
offsets) plays the role of the disk queue's .qi file (queue.c:176).
The sink tables are the batch run's tables plus ``batch_id``; a sink
path belongs to one checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rsyslog_spark.pipeline import run_flagship
from rsyslog_spark.schema import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of transcript parquet.

    (imfile analog, plugins/imfile: tail + per-file state; the file
    source's checkpointed offsets replace imfile's state files.)"""
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def stream_flagship(
    stream: DataFrame,
    base_path: str,
    checkpoint_dir: str,
    await_termination: bool = True,
):
    """Run the flagship ruleset over a stream; one parquet dir per sink
    plus a ``metrics`` table of per-batch per-sink counts."""

    def _one_batch(batch_df: DataFrame, batch_id: int):
        counts = run_flagship(
            batch_df.withColumn("batch_id", F.lit(batch_id)), base_path,
            key="batch_id",
        )
        batch_df.sparkSession.createDataFrame(
            [(batch_id, sink, n) for sink, n in counts.items()],
            "batch_id long, sink string, n long",
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(f"{base_path}/metrics")

    q = (
        stream.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
