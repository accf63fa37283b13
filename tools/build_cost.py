"""Driver-side cost of building the flagship plan, phase by phase.

perfbench times whole runs; this tool covers the layer before any job
starts: the Python driver building the ``build_flagship`` plan, where
every Column and DataFrame operation is a py4j round trip to the JVM.
It prints, for a warm build (the same phases as ``build_flagship``, run
``--warm`` times first), the median py4j round trips and seconds of
each phase over ``--reps`` builds:

    read        spark.read.parquet of the transcript table
    with_parsed sanitize/PRI/parser chain (one mapInArrow + native tail)
    dims        the tool/role dimension tables
    enrich      the two broadcast joins with their nomatch defaults
    ruleset     flagship_ruleset() (the condition Columns)
    compile     RouteCompiler.compile (predicates, templates)
    agg         the per-sink count aggregate perfbench collects

``sum build`` adds up the phases ``build_flagship`` itself runs (from
with_parsed to compile); ``sum all`` adds the read and the aggregate.

Round trips are counted by wrapping
``py4j.clientserver.ClientServerConnection.send_command``. Python's
``gc`` is collected before and disabled inside each phase, so deletes
of objects from earlier builds are not counted; the ``del`` column
shows the delete commands that were still sent. No job runs.

Usage: python tools/build_cost.py [--path PARQUET_DIR] [--warm 3] [--reps 7]

Without ``--path`` a 1,000-row transcript table is written to a
temporary directory first; the plan's size does not depend on the row
count.
"""

from __future__ import annotations

import argparse
import gc
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.clientserver import ClientServerConnection  # noqa: E402

_DEL = "m\nd\n"
_sent = {"calls": 0, "dels": 0}
_send = ClientServerConnection.send_command


def _counting_send(self, command):
    if command.startswith(_DEL):
        _sent["dels"] += 1
    else:
        _sent["calls"] += 1
    return _send(self, command)


def _phases(spark, path: str):
    """The steps of ``pipeline.build_flagship`` (plus perfbench's count
    aggregate) as (name, thunk) pairs; each thunk takes the previous
    phase results."""
    from pyspark.sql import functions as F

    from rsyslog_spark.lookup import enrich_join
    from rsyslog_spark.parse import with_parsed
    from rsyslog_spark.pipeline import flagship_ruleset, role_dim_df, tool_dim_df
    from rsyslog_spark.route import RouteCompiler

    def enrich(r):
        out = enrich_join(r["with_parsed"], r["dims"][0], on="tool",
                          nomatch={"tool_class": "unknown", "risk": "0"})
        return enrich_join(out, r["dims"][1], on="role",
                           nomatch={"sink_group": "unknown"})

    def agg(r):
        ann, actions = r["compile"]
        return ann.agg(F.count(F.lit(1)).alias("rows"),
                       *[F.sum(F.col(a.pred_col).cast("long")).alias(a.sink)
                         for a in actions])

    return [
        ("read", lambda r: spark.read.parquet(path)),
        ("with_parsed", lambda r: with_parsed(
            r["read"], require_header=True, keep_raw=False)),
        ("dims", lambda r: (tool_dim_df(spark), role_dim_df(spark))),
        ("enrich", enrich),
        ("ruleset", lambda r: flagship_ruleset()),
        ("compile", lambda r: RouteCompiler().add(r["ruleset"]).compile(
            r["enrich"], "flagship")),
        ("agg", agg),
    ]


def build_once(spark, path: str) -> dict[str, tuple[int, int, float]]:
    """One build: {phase: (round trips, deletes, seconds)}."""
    out, results = {}, {}
    for name, thunk in _phases(spark, path):
        gc.collect()
        _sent.update(calls=0, dels=0)
        gc.disable()
        t0 = time.perf_counter()
        try:
            results[name] = thunk(results)
        finally:
            dt = time.perf_counter() - t0
            gc.enable()
        out[name] = (_sent["calls"], _sent["dels"], dt)
    return out


def _input(spark, tmp: str) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rsyslog_spark.sources.transcripts import transcripts_spark

    ev = pa.table({"event_id": pa.array(np.arange(1000, dtype=np.int64))})
    pq.write_table(ev, os.path.join(tmp, "events.parquet"))
    table = os.path.join(tmp, "transcripts")
    transcripts_spark(spark, tmp).repartition(4).write.parquet(table)
    return table


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--path", help="transcript parquet table")
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("--reps", type=int, default=7)
    args = ap.parse_args(argv)

    from rsyslog_spark.session import get_spark

    spark = get_spark(cores=2)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="build_cost_")
    try:
        path = args.path or _input(spark, tmp)
        ClientServerConnection.send_command = _counting_send
        for _ in range(args.warm):
            build_once(spark, path)
        runs = [build_once(spark, path) for _ in range(args.reps)]
    finally:
        ClientServerConnection.send_command = _send
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()

    print(f"warm build_flagship, median of {args.reps} builds "
          f"after {args.warm} warm-up builds")
    print(f"{'phase':<12}{'round trips':>12}{'del':>6}{'seconds':>10}")
    med = {name: [statistics.median(r[name][i] for r in runs) for i in range(3)]
           for name in runs[0]}
    for name, (n, d, s) in med.items():
        print(f"{name:<12}{n:>12.0f}{d:>6.0f}{s:>10.3f}")
    # build_flagship itself is the phases between the read and the agg
    for label, names in (("build", list(med)[1:-1]), ("all", list(med))):
        n = sum(med[k][0] for k in names)
        s = sum(med[k][2] for k in names)
        print(f"{'sum ' + label:<12}{n:>12.0f}{'':>6}{s:>10.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
