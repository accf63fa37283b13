"""Sink fan-out, the one sink writer: N filtered writes over one frame.

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
- per-sink counts (our north rule) are computed in ONE aggregation pass
  over the annotated frame (sum of each action's predicate), not N
  count() jobs.

Batch, resume and streaming all write through ``fan_out``. With ``key``
(a micro-batch's ``batch_id`` or a lineage bucket's ``partition_id``)
each sink is partitioned by ``key`` first and written with dynamic
partition overwrite: a replayed batch or bucket replaces exactly its own
partitions, so replay + idempotent write = exactly-once sink tables.

Scale notes: the annotated frame is persisted before fan-out so the
source is scanned once for N sinks + metrics; each write is a pure
filter+project (no shuffle) unless the sink declares partitionBy, in
which case AQE handles the dynamic-partition shuffle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
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
    write: bool = True,
    key: str | None = None,
) -> dict[str, int]:
    """Write every action's rows to its sink table; return per-sink counts.

    Counts come from a single aggregation job (one pass), mirroring the
    reference's per-action counters (statsobj, runtime/statsobj.c) but
    exact-per-batch instead of sampled. ``key``: see the module doc.
    """
    sink_specs = sink_specs or {}
    annotated = annotated.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # one-pass exact per-sink counts (per plane: row-plane actions
        # aggregate over `annotated`; foreach-body actions carry their
        # own exploded frame — one aggregation pass per distinct plane)
        counts: dict[str, int] = {}
        planes: dict[int, tuple[DataFrame, list[CompiledAction]]] = {}
        for a in actions:
            src = a.df if a.df is not None else annotated
            planes.setdefault(id(src), (src, []))[1].append(a)
        for src, acts in planes.values():
            agg = src.agg(
                *[
                    F.sum(F.col(a.pred_col).cast("long")).alias(f"{i}")
                    for i, a in enumerate(acts)
                ]
            ).first()
            for i, a in enumerate(acts):
                counts[a.sink] = counts.get(a.sink, 0) + int(agg[f"{i}"] or 0)

        if write:
            for a in actions:
                spec = sink_specs.get(a.sink, SinkSpec(a.sink))
                # render AFTER the filter (CompiledAction.output): only
                # matching rows pay the template cost and the persisted
                # annotated frame holds no rendered strings
                out = a.output(annotated)
                parts = ([key] if key else []) + spec.partition_by
                if a.out_col is not None:
                    cols = [F.col(a.out_col).alias("line"), *parts]
                else:
                    cols = [c for c in DEFAULT_SINK_COLUMNS if c in out.columns]
                    cols += [c for c in parts if c not in cols]
                w = out.select(*cols).write.mode("overwrite").format(spec.format)
                if key:
                    w = w.option("partitionOverwriteMode", "dynamic")
                if spec.compression:
                    w = w.option("compression", spec.compression)
                if parts:
                    w = w.partitionBy(*parts)
                w.save(os.path.join(base_path, a.sink))
        return counts
    finally:
        annotated.unpersist()
