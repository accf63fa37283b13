"""The traced run: per-layer self time from cumulative prefixes.

Each workload is cut into prefixes named after the library's modules.
Prefix k runs layers 1..k and ends in ONE aggregate that reads the
columns its last layer adds, so Catalyst cannot prune that layer (a bare
``count()`` would drop the routing predicates, for instance). A layer's
self time is prefix(k) - prefix(k-1), each prefix run once.

The dedup chain is traced the same way, one prefix per stage. The
``streaming`` layer is not a prefix: the flagship trace drains the same
table once more through ``stream_flagship`` and counts its micro-batches
and jobs.
"""

from __future__ import annotations

import os
import re
import shutil

from harness import next_job_id, timed

KERNEL_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch

# executed-plan node name -> metric
PLAN_NODES = {
    "MapInArrow": "plan.mapinarrow",
    "Exchange": "plan.exchange",
    "BroadcastHashJoin": "plan.bhj",
    "ArrowEvalPython": "plan.python_eval",
    "BatchEvalPython": "plan.python_eval",
}
_NODE_RE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?(\w+)")


def plan_nodes(df) -> list[str]:
    """Node names of ``df``'s executed (final adaptive) plan; ``df`` must
    have been run with ``collect()``."""
    text = df._jdf.queryExecution().executedPlan().toString()
    final = text.split("== Initial Plan ==")[0]
    names = []
    for line in final.splitlines():
        m = _NODE_RE.match(line)
        if m:
            names.append(m.group(1))
    return names


def plan_counts(df) -> dict[str, int]:
    out = dict.fromkeys(PLAN_NODES.values(), 0)
    for name in plan_nodes(df):
        if name in PLAN_NODES:
            out[PLAN_NODES[name]] += 1
    return out


def _collect(df) -> tuple:
    """Run ``df`` through its own query execution (``collect``), so its
    executed plan is the one that ran."""
    return df, df.collect()[0].asDict()


def flagship_prefixes(spark, case, sink_dir: str):
    """[(layer, fn)] for the transcript flagship; fn() -> (df, counts).

    The route prefix is flagship_counts' whole run; the sinks prefix adds
    run_flagship's five sink writes (flagship_sinks' run)."""
    from pyspark.sql import functions as F

    from rsyslog_spark.lookup import enrich_join
    from rsyslog_spark.parse import with_parsed
    from rsyslog_spark.pipeline import (
        build_flagship,
        role_dim_df,
        run_flagship,
        tool_dim_df,
    )

    def table():
        return spark.read.parquet(case.path)

    def sources():
        return _collect(table().agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("text")).alias("text_bytes")))

    def parsed():
        # the arguments build_flagship passes
        return with_parsed(table(), require_header=True, keep_raw=False)

    def parse():
        return _collect(parsed().agg(
            F.sum((F.col("parser") == "rfc5424").cast("long")).alias("rfc5424"),
            F.sum((F.col("parser") == "rfc3164").cast("long")).alias("rfc3164"),
            F.sum((~F.col("parse_success")).cast("long")).alias("failed"),
            F.sum(F.length("msg") + F.col("syslogseverity")).alias("touch")))

    def lookup():
        # build_flagship's two broadcast enrichments
        e = enrich_join(parsed(), tool_dim_df(spark), on="tool",
                        nomatch={"tool_class": "unknown", "risk": "0"})
        e = enrich_join(e, role_dim_df(spark), on="role",
                        nomatch={"sink_group": "unknown"})
        return _collect(e.agg(
            F.sum(((F.col("tool_class") == "unknown")
                   | (F.col("sink_group") == "unknown")).cast("long"))
            .alias("nomatch"),
            F.sum(F.col("risk").cast("long")).alias("risk")))

    def route():
        ann, actions = build_flagship(table())
        return _collect(ann.agg(*[
            F.sum(F.col(a.pred_col).cast("long")).alias(a.sink)
            for a in actions]))

    def sinks():
        return None, run_flagship(table(), base_path=sink_dir)

    return [("sources", sources), ("parse", parse), ("lookup", lookup),
            ("route", route), ("sinks", sinks)]


def neardup_prefixes(spark, case, threshold: float):
    """[(stage, fn)] for the near-dup chain; each prefix persists the
    shingles exactly as the timed run does."""
    from pyspark.sql import functions as F

    from rsyslog_spark.dataops.cluster import dup_clusters
    from rsyslog_spark.dataops.dedup import (
        jaccard_pairs,
        minhash_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    def docs():
        return spark.read.parquet(case.path)

    def with_shingles(body):
        def fn():
            sh = shingles(docs()).persist()
            try:
                return body(sh)
            finally:
                sh.unpersist()
        return fn

    def pairs(sh):
        return jaccard_pairs(
            sh, pairs=minhash_candidate_pairs(minhash_signatures(sh)),
            threshold=threshold)

    return [
        ("sources", lambda: _collect(docs().agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("text")).alias("text_bytes")))),
        ("dedup.shingles", with_shingles(lambda sh: _collect(sh.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("sh")).alias("bytes"))))),
        ("dedup.signatures", with_shingles(lambda sh: _collect(
            minhash_signatures(sh).agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.length("sig")).alias("bytes"))))),
        ("dedup.candidates", with_shingles(lambda sh: _collect(
            minhash_candidate_pairs(minhash_signatures(sh)).agg(
                F.count(F.lit(1)).alias("pairs"))))),
        ("dedup.verify", with_shingles(lambda sh: _collect(pairs(sh).agg(
            F.count(F.lit(1)).alias("pairs"),
            F.sum("inter").alias("inter"))))),
        ("cluster", with_shingles(lambda sh: _collect(dup_clusters(
            pairs(sh)).agg(
                F.count(F.lit(1)).alias("labeled"),
                F.countDistinct("cluster_id").alias("clusters"))))),
    ]


def time_prefixes(prefixes):
    """{name: (seconds, counts, df)}, the prefixes run in order."""
    out = {}
    for name, fn in prefixes:
        dt, (df, counts) = timed(fn)
        out[name] = (dt, counts, df)
    return out


def stream_backlog(spark, case, work_dir: str, files_per_trigger: int) -> dict:
    """``stream_flagship`` draining the stored table as a backlog, with
    ``availableNow`` and ``maxFilesPerTrigger``: its micro-batches with
    input, the Spark jobs it ran, its seconds and the per-sink totals of
    its ``metrics`` table."""
    from pyspark.sql import functions as F

    from rsyslog_spark.streaming.pipeline import (
        read_transcript_stream,
        stream_flagship,
    )

    shutil.rmtree(work_dir, ignore_errors=True)
    out = os.path.join(work_dir, "out")
    j0 = next_job_id(spark)
    dt, q = timed(lambda: stream_flagship(
        read_transcript_stream(spark, case.path,
                               max_files_per_trigger=files_per_trigger),
        out, os.path.join(work_dir, "checkpoint")))
    jobs = next_job_id(spark) - j0
    batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    totals = spark.read.parquet(os.path.join(out, "metrics")).groupBy(
        "sink").agg(F.sum("n")).collect()
    return {"batches": batches, "jobs": jobs, "seconds": dt,
            "sinks": {r[0]: r[1] for r in totals}}


def shared_shingle_pairs(spark, case) -> int:
    """sum over shingles of df*(df-1)/2: the co-occurrence rows an
    all-shingle self-join materializes, whatever the candidate count."""
    from pyspark.sql import functions as F

    from rsyslog_spark.dataops.dedup import shingles

    n = F.col("count")
    return int(shingles(spark.read.parquet(case.path))
               .groupBy("sh").count()
               .agg(F.sum(n * (n - 1) / 2)).collect()[0][0] or 0)


def kernel_seconds(spark, case) -> float:
    """``parse_chain_arrow`` alone over the same rows, in this process,
    in Arrow batches of the session's size: the Python kernel without
    Spark, Arrow transport or worker overhead."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from rsyslog_spark.parse.arrow_chain import parse_chain_arrow
    from rsyslog_spark.parse.pri import facility_expr, pri_expr
    from rsyslog_spark.parse.sanitize import with_sanitized

    # the columns with_parsed ships into its mapInArrow worker
    pre = with_sanitized(spark.read.parquet(case.path)).select(
        "rawmsg",
        facility_expr(pri_expr(F.col("rawmsg"))).alias("facility"),
        "ts",
        F.col("rawmsg").startswith("<").alias("has_pri"),
    ).toArrow().combine_chunks()
    raw = pc.fill_null(pre.column("rawmsg").chunk(0), "")
    # the worker's after-PRI cut: '<0-4 digits>' with a value <= 191
    m = pc.extract_regex(raw, r"(?s)^<(?P<d>[0-9]{0,4})>(?P<rest>.*)$")
    digits = pc.fill_null(pc.struct_field(m, "d"), "999")
    digits = pc.if_else(pc.equal(digits, ""), "0", digits)
    valid = pc.fill_null(pc.and_(
        pc.is_valid(m), pc.less_equal(pc.cast(digits, pa.int64()), 191)), False)
    after_pri = pc.if_else(valid, pc.fill_null(pc.struct_field(m, "rest"), ""),
                           raw)
    cols = [after_pri, pre.column("facility").chunk(0),
            pre.column("ts").chunk(0), pa.array([""] * len(raw), pa.string()),
            pre.column("has_pri").chunk(0)]
    total = 0.0
    for lo in range(0, len(raw), KERNEL_BATCH):
        part = [c.slice(lo, KERNEL_BATCH) for c in cols]
        dt, _ = timed(lambda: parse_chain_arrow(*part, require_header=True))
        total += dt
    return total


def sink_files(root: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory tree."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
