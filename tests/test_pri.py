"""PRI decode truth table vs the C semantics (runtime/parser.c:576-609,
runtime/msg.c:1608-1614, runtime/rsyslog.h:178-237)."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from rsyslog_spark.parse.pri import (
    decode_pri_arrow,
    facility_expr,
    pri_expr,
    pri_len_expr,
    severity_expr,
    with_pri,
)

CASES = [
    # (raw, pri, facility, severity, consumed)
    ("<0>x", 0, 0, 0, 3),
    ("<13>x", 13, 1, 5, 4),
    ("<191>x", 191, 23, 7, 5),
    ("<192>x", 199, 24, 7, 0),     # > LOG_MAXPRI -> INVLD
    ("<1911>x", 199, 24, 7, 0),    # accumulates past 191 -> INVLD
    ("<>x", 0, 0, 0, 2),           # zero digits then '>' is valid pri 0
    ("<abc>x", 199, 24, 7, 0),     # non-digit stops scan, no '>' at stop
    ("<12a>x", 199, 24, 7, 0),
    ("<12", 199, 24, 7, 0),        # unterminated
    ("no pri", 13, 1, 5, 0),       # DEFUPRI (parser.c:47)
    ("", 13, 1, 5, 0),
    ("x<13>", 13, 1, 5, 0),        # '<' not at offset 0
]


def test_pri_truth_table(spark):
    df = spark.createDataFrame([(c[0],) for c in CASES], "raw string")
    rows = (
        df.select(
            "raw",
            pri_expr(F.col("raw")).alias("pri"),
            pri_len_expr(F.col("raw")).alias("plen"),
        )
        .withColumn("fac", facility_expr(F.col("pri")))
        .withColumn("sev", severity_expr(F.col("pri")))
        .collect()
    )
    got = {r["raw"]: (r["pri"], r["fac"], r["sev"], r["plen"]) for r in rows}
    for raw, pri, fac, sev, plen in CASES:
        assert got[raw] == (pri, fac, sev, plen), (raw, got[raw])
    # with_pri's rawmsg_after_pri is the message without those chars
    after = {
        r["raw"]: r["rawmsg_after_pri"]
        for r in with_pri(df, raw_col="raw").collect()
    }
    assert after == {raw: raw[plen:] for raw, *_, plen in CASES}


def test_with_parsed_after_pri_matches_arrow_decode(spark):
    """with_parsed(keep_raw=True) re-derives rawmsg_after_pri in the JVM;
    it equals the parse worker's after-PRI text."""
    from rsyslog_spark.parse import with_parsed

    raws = [c[0] for c in CASES]
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(raws)], "i int, text string"
    ).withColumn("ts", F.current_timestamp())
    rows = with_parsed(df, keep_raw=True).orderBy("i").collect()
    _, after = decode_pri_arrow(pa.array(raws))
    assert [r["rawmsg_after_pri"] for r in rows] == after.to_pylist()


def test_pri_truth_table_arrow():
    """The parse worker's decode: the same table, and the after-PRI text
    is the message without the consumed header."""
    ints, after = decode_pri_arrow(pa.array([c[0] for c in CASES]))
    got = [
        (ints["pri"][k].as_py(), ints["syslogfacility"][k].as_py(),
         ints["syslogseverity"][k].as_py(), after[k].as_py())
        for k in range(len(CASES))
    ]
    assert got == [(pri, fac, sev, raw[plen:])
                   for raw, pri, fac, sev, plen in CASES]


def test_all_200_fac_sev_pairs(spark):
    """Every valid (facility 0-24, severity 0-7) combination decodes."""
    rows = [(f"<{f * 8 + s}>m", f, s) for f in range(24) for s in range(8)]
    df = spark.createDataFrame(rows, "raw string, f int, s int")
    bad = (
        df.withColumn("pri", pri_expr(F.col("raw")))
        .withColumn("fac", facility_expr(F.col("pri")))
        .withColumn("sev", severity_expr(F.col("pri")))
        .filter("fac != f OR sev != s")
        .count()
    )
    assert bad == 0
