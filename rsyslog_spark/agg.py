"""Aggregation operators: rsyslog's streaming counters as batch groupBys.

The reference has no GROUP BY; its aggregations are counters
(SURVEY §2.9): dynstats buckets (runtime/dynstats.c, 626 LoC), statsobj /
impstats (runtime/statsobj.c, plugins/impstats), mmcount, mmsequence.
Each maps to a declarative Spark aggregation that Catalyst executes with
map-side partial aggregation — the distributed generalization of the
reference's per-worker counters merged at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dyn_inc(
    df: DataFrame,
    bucket: str,
    key,
    max_cardinality: int = 0,
) -> DataFrame:
    """dynstats bucket + dyn_inc(bucket, key) (rainerscript.c:2531-2550,
    runtime/dynstats.c). Returns (name, key, count [, ops_overflow]).

    maxCardinality: keys beyond the cap are not tracked individually but
    counted in ``ops_overflow`` (dynstats.c:517). In batch, 'first N
    distinct keys seen' is nondeterministic under parallelism, so the cap
    keeps the TOP-N keys by count (deterministic, documented deviation;
    ties broken by key) — overflow counts preserved exactly.
    """
    keyed = df.select(F.lit(bucket).alias("name"), key.alias("key") if not isinstance(key, str) else F.col(key).alias("key"))
    counts = keyed.groupBy("name", "key").count()
    if max_cardinality and max_cardinality > 0:
        return _apply_caps(counts, {bucket: max_cardinality})
    return counts


def _apply_caps(counts: DataFrame, capped: dict) -> DataFrame:
    """Shared maxCardinality logic over a (name, key, count) frame:
    per-name top-N by (count desc, key asc) + one ops_overflow row
    (dynstats.c:517). Names absent from ``capped`` pass uncapped."""
    cap = F.lit(None).cast("int")
    for n, mc in capped.items():
        cap = F.when(F.col("name") == n, F.lit(mc)).otherwise(cap)
    w = Window.partitionBy("name").orderBy(F.desc("count"), F.asc("key"))
    ranked = counts.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_cap", cap
    )
    kept = ranked.filter(
        F.col("_cap").isNull() | (F.col("_rk") <= F.col("_cap"))
    ).select("name", "key", "count")
    overflow = (
        ranked.filter(
            F.col("_cap").isNotNull() & (F.col("_rk") > F.col("_cap"))
        )
        .groupBy("name")
        .agg(F.sum("count").alias("count"))
        .withColumn("key", F.lit("ops_overflow"))
        .select("name", "key", "count")
    )
    return kept.unionByName(overflow)


def dyn_inc_multi(
    df: DataFrame,
    buckets: list,
) -> DataFrame:
    """Several dynstats buckets in ONE pass over the input — the shape
    that matters when the input is a 100 TB parse: a per-bucket
    ``dyn_inc`` union re-executes the scan/parse once per bucket,
    whereas exploding the (name, key) pairs costs one scan and one
    shuffle for ALL buckets (counter rows are tiny; the explode's x
    n_buckets row growth happens after column pruning, pre-aggregated
    map-side).

    ``buckets``: [(name, key_col, max_cardinality)] — max_cardinality
    as in :func:`dyn_inc` (0 = uncapped; capped buckets keep top-N by
    count with an ops_overflow row, dynstats.c:517). The kept/overflow
    split re-reads the counts exchange, which AQE dedupes via
    ReusedExchange — the scan still runs once.
    """
    pairs = F.array(*[
        F.struct(
            F.lit(n).alias("name"),
            F.col(k).cast("string").alias("key"),
        )
        for n, k, _ in buckets
    ])
    counts = (
        df.select(F.explode(pairs).alias("nk"))
        .groupBy(F.col("nk.name").alias("name"), F.col("nk.key").alias("key"))
        .count()
    )
    capped = {n: mc for n, _, mc in buckets if mc and mc > 0}
    if not capped:
        return counts
    return _apply_caps(counts, capped)


def dyn_inc_windowed(
    df: DataFrame,
    bucket: str,
    key,
    ts_col: str = "ts",
    interval_s: int = 600,
    resettable: bool = True,
    unused_metric_life_s: int | None = None,
) -> DataFrame:
    """dynstats emission cycles: resettable + unusedMetricLife TTL
    (runtime/dynstats.c:36-43,249-264,489; tests/dynstats_reset.sh).

    The reference emits bucket counters every stats interval;
    ``resettable=on`` (the default, DYNSTATS_DEFAULT_RESETTABILITY)
    zeroes each counter at emission (CTR_FLAG_MUST_RESET,
    dynstats.c:489), and a metric unused for ``unusedMetricLife``
    seconds is purged — a later increment starts a FRESH counter from 0
    (the ttl-survivor table, dynstats.c:249-264).

    Batch analog over event time: emission interval = tumbling window on
    ``ts_col``. Returns (name, key, window_start, count) where count is
    per-window when resettable, else the cumulative count since the
    key's last TTL purge (a gap > unusedMetricLife between active
    windows restarts the sequence — exactly the purge-then-recreate
    lifecycle). Emissions appear for a key's ACTIVE windows (a batch
    engine has no timer to emit zeros for silent ones; documented).

    Scale shape: one hash shuffle on (key, window) + at most one window
    function over (key) — no driver state, no collect.
    """
    kcol = F.col(key) if isinstance(key, str) else key
    win = (F.unix_timestamp(F.col(ts_col)) / interval_s).cast("long")
    base = (
        df.select(kcol.alias("key"), win.alias("_w"))
        .groupBy("key", "_w")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    if resettable:
        out = base.select(
            F.lit(bucket).alias("name"),
            "key",
            (F.col("_w") * interval_s).cast("timestamp").alias("window_start"),
            F.col("_n").alias("count"),
        )
        return out
    w = Window.partitionBy("key").orderBy("_w")
    if unused_metric_life_s is not None:
        gap_w = unused_metric_life_s // interval_s
        purged = (
            F.col("_w") - F.lag("_w").over(w) > F.lit(gap_w)
        ).cast("int")
        seg = F.sum(F.coalesce(purged, F.lit(0))).over(w)
        base = base.withColumn("_seg", seg)
        w = Window.partitionBy("key", "_seg").orderBy("_w")
    cum = F.sum("_n").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        F.lit(bucket).alias("name"),
        "key",
        (F.col("_w") * interval_s).cast("timestamp").alias("window_start"),
        cum.alias("count"),
    )


def mm_count(df: DataFrame, app_col: str = "programname", key_col: str = "syslogseverity") -> DataFrame:
    """mmcount (contrib/mmcount/mmcount.c): messages per app per key."""
    return df.groupBy(app_col, key_col).count()


def mm_sequence(df: DataFrame, partition_by: str | None = None,
                order_by: tuple = ("conv_id", "turn_idx"),
                out: str = "sequence") -> DataFrame:
    """mmsequence (contrib/mmsequence): monotonically numbered messages.

    The reference numbers in arrival order; our total order is the
    stable (conv_id, turn_idx) window (north rule)."""
    if partition_by:
        w = Window.partitionBy(partition_by).orderBy(*order_by)
    else:
        w = Window.orderBy(*order_by)
    return df.withColumn(out, F.row_number().over(w))


def impstats(
    df: DataFrame,
    actions_counts: dict[str, int] | None = None,
) -> DataFrame:
    """impstats/statsobj analog (runtime/statsobj.h:47-52): engine
    counters as rows. Emitted per run into the metrics table
    (SURVEY §2.1 impstats row)."""
    spark = df.sparkSession
    core = df.agg(
        F.count(F.lit(1)).alias("submitted"),
        F.sum((~F.col("parse_success")).cast("long")).alias("parse_failures"),
        F.sum(F.col("parse_success").cast("long")).alias("processed"),
    ).first()
    rows = [
        ("core.submitted", int(core["submitted"] or 0)),
        ("core.parse_failures", int(core["parse_failures"] or 0)),
        ("core.processed", int(core["processed"] or 0)),
    ]
    for sink, n in (actions_counts or {}).items():
        rows.append((f"action.{sink}.processed", n))
    return spark.createDataFrame(rows, "counter string, value long")

