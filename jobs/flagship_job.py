"""spark-submit entrypoint: resumable flagship pipeline run.

Cluster usage (the north-rule packaging contract):

    python tools/make_pyfiles.py                 # -> dist/rsyslog_spark.zip
    spark-submit --py-files dist/rsyslog_spark.zip \\
        jobs/flagship_job.py \\
        --input /root/testdata/sf0.1 --output /tmp/sinks \\
        --lineage /tmp/lineage --run-id run-2024-06-01 [--replicas 1]

Local fallback (no spark-submit): ``python jobs/flagship_job.py ...``
creates its own local session. The run is exactly-once per (run-id,
partition): every sink table is partitioned by the lineage bucket
``partition_id`` and written with dynamic partition overwrite, so a
re-submit after a crash re-processes only uncommitted partitions and
replaces exactly their rows, keeping the committed ones (rsyslog .qi
checkpoint analog, runtime/queue.c:176). An output path belongs to one
run id; the printed ``sink_counts`` cover this submission's partitions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with events.parquet")
    ap.add_argument("--output", required=True, help="sink base path")
    ap.add_argument("--lineage", required=True, help="lineage table path")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--replicas", type=int, default=1)
    ap.add_argument("--n-buckets", type=int, default=256)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from rsyslog_spark.session import get_spark

        spark = get_spark(app_name="rsyslog_spark_flagship")

    from rsyslog_spark.checkpoint import run_with_resume
    from rsyslog_spark.pipeline import run_flagship
    from rsyslog_spark.sources.transcripts import transcripts_spark

    t = transcripts_spark(spark, args.input, replicas=args.replicas)
    counts: dict = {}

    def process(df):
        counts.update(run_flagship(df, args.output, key="partition_id"))

    result = run_with_resume(
        spark, t, args.run_id, args.lineage, process,
        n_buckets=args.n_buckets,
    )
    print(json.dumps({"run": result, "sink_counts": counts}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
