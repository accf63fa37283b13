"""Sink fan-out, the one sink writer: one write per sink over one frame.

Reference machinery: action.c (2360 LoC) — per-action queues, the
transaction interface beginTransaction/doAction/commitTransaction
(action.c:1075, actionCommit :1560-1615, actionCommitAllDirect
:1617-1635) and omfile's dynafile cache (tools/omfile.c:671-770).

Spark mapping (SURVEY §2.10):
- a sink is a table write; 'transaction commit at batch end' ≙ the
  atomic job-level commit of a DataFrame write (Iceberg snapshot in
  prod; directory-atomic parquet here — format is a parameter).
- **dynafile ≡ partitionBy**: rsyslog computes the FILE NAME from a
  template per message and caches open files; Spark computes the
  partition directory from columns — same semantics, vectorized.
- several actions naming one sink append to one file in rsyslog; here
  the sink's write is the union of those actions' rows.
- per-sink counts (our north rule) are observed on the sink's own write
  (``Observation``, SURVEY §2.9): the count is the rows that write
  wrote, and no job runs only to count.

Batch, resume and streaming all write through ``fan_out``. With ``key``
(a micro-batch's ``batch_id`` or a lineage bucket's ``partition_id``)
each sink is partitioned by ``key`` first and written with dynamic
partition overwrite: a replayed batch or bucket replaces exactly its own
partitions, so replay + idempotent write = exactly-once sink tables.

Scale notes: the annotated frame is persisted before fan-out so the
source is scanned once for the N sink writes; each write is a pure
filter+project (no shuffle) unless the sink declares partitionBy, in
which case AQE handles the dynamic-partition shuffle.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rsyslog_spark.route import CompiledAction


@dataclass
class SinkSpec:
    """Physical sink config (omfile/omfwd params analog, omfile.c:234-280)."""
    name: str
    partition_by: list[str] = field(default_factory=list)  # dynafile keys
    format: str = "parquet"  # 'iceberg' on a real cluster
    # omfile zip/veryRobustZip analog: output codec (omfile.c zip
    # support); None = table format default
    compression: str | None = None


DEFAULT_SINK_COLUMNS = [
    "conv_id", "turn_idx", "role", "tool", "ts",
    "pri", "syslogfacility", "syslogseverity", "hostname", "syslogtag",
    "programname", "app_name", "procid", "msgid", "msg", "parser",
    "parse_success", "timereported",
]


def fan_out(
    annotated: DataFrame,
    actions: list[CompiledAction],
    base_path: str,
    sink_specs: dict[str, SinkSpec] | None = None,
    key: str | None = None,
) -> dict[str, int]:
    """Write each sink once, the union of its actions' rows; return the
    rows each write wrote.

    A sink's count is an ``Observation`` on its own write, the analog of
    the reference's per-action counters (statsobj, runtime/statsobj.c)
    but exact per batch. ``key``: see the module doc.
    """
    sink_specs = sink_specs or {}
    annotated = annotated.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        counts: dict[str, int] = {}
        for sink in dict.fromkeys(a.sink for a in actions):
            spec = sink_specs.get(sink, SinkSpec(sink))
            parts = ([key] if key else []) + spec.partition_by
            rows = functools.reduce(
                lambda x, y: x.unionByName(y, allowMissingColumns=True),
                [_sink_rows(a, annotated, parts)
                 for a in actions if a.sink == sink],
            )
            obs = Observation()
            w = rows.observe(obs, F.count(F.lit(1)).alias("n")).write
            w = w.mode("overwrite").format(spec.format)
            if key:
                w = w.option("partitionOverwriteMode", "dynamic")
            if spec.compression:
                w = w.option("compression", spec.compression)
            if parts:
                w = w.partitionBy(*parts)
            w.save(os.path.join(base_path, sink))
            counts[sink] = obs.get["n"]
        return counts
    finally:
        annotated.unpersist()


def _sink_rows(a: CompiledAction, annotated: DataFrame,
               parts: list[str]) -> DataFrame:
    """One action's rows: the template's ``line`` (rendered after the
    filter, so the persisted frame holds no rendered strings) or the
    default message columns, plus ``parts``."""
    out = a.output(annotated)
    if a.out_col is not None:
        return out.select(F.col(a.out_col).alias("line"), *parts)
    cols = [c for c in DEFAULT_SINK_COLUMNS if c in out.columns]
    return out.select(*cols, *[c for c in parts if c not in cols])
