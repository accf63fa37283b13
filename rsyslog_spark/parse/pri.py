"""PRI ``<NNN>`` decode: Column expressions, and the Arrow form the parse
worker runs (``decode_pri_arrow``).

Reference: ``ParsePRI`` runtime/parser.c:576-609 and ``msgSetPRI``
runtime/msg.c:1608-1614. Exact semantics replicated:

- raw message does NOT start with '<'   → pri = DEFUPRI = 13 (user.notice,
  parser.c:47), PRI length consumed = 0.
- starts with '<' and matches ``<digits>`` with value ≤ LOG_MAXPRI=191
  (rsyslog.h:178) → pri = value, consumed = len('<digits>').
- starts with '<' but malformed or value > 191 → pri = LOG_PRI_INVLD = 199
  (rsyslog.h:180: (24<<3)|7), consumed = 0 (parser.c:603-605 resets offset).
- ``<>`` is VALID with pri = 0 (the C loop accepts zero digits then sees '>').

facility = pri >> 3 capped at 24 (pri2fac, rsyslog.h:228-236);
severity = pri & 7 (pri2sev, rsyslog.h:237).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rsyslog_spark.parse.arrow_chain import _extract, _ints

DEFUPRI = 13  # LOG_USER|LOG_NOTICE, parser.c:47
LOG_PRI_INVLD = 199  # (LOG_FAC_INVLD<<3)|LOG_DEBUG, rsyslog.h:180,218-219
LOG_MAXPRI = 191  # rsyslog.h:178

# The C scanner stops at the first non-digit; valid only if that char is '>'.
# 0-4 digits is enough: any ≥4-digit value is > 191 → INVLD anyway, and the
# C loop also bails once the accumulator exceeds 191.
_PRI_RE = r"^<([0-9]{0,4})>"


def pri_expr(raw: Column) -> Column:
    """PRI value of a raw message column, rsyslog semantics."""
    digits = F.regexp_extract(raw, _PRI_RE, 1)
    matched = raw.rlike(_PRI_RE)
    val = F.when(digits == "", F.lit(0)).otherwise(digits.cast("int"))
    return (
        F.when(~raw.startswith("<"), F.lit(DEFUPRI))
        .when(matched & (val <= LOG_MAXPRI), val)
        .otherwise(F.lit(LOG_PRI_INVLD))
    )


def pri_len_expr(raw: Column) -> Column:
    """Chars consumed by the PRI header (offAfterPRI, msg.h:70)."""
    digits = F.regexp_extract(raw, _PRI_RE, 1)
    matched = raw.rlike(_PRI_RE)
    val = F.when(digits == "", F.lit(0)).otherwise(digits.cast("int"))
    return F.when(
        raw.startswith("<") & matched & (val <= LOG_MAXPRI),
        F.length(digits) + 2,
    ).otherwise(F.lit(0))


# the same rule as _PRI_RE, with the text after the header captured
_AFTER_PRI_RE = r"(?s)^<(?P<d>[0-9]{0,4})>(?P<rest>.*)$"


def decode_pri_arrow(raw: pa.Array) -> tuple[dict[str, pa.Array], pa.Array]:
    """ParsePRI over an Arrow batch of sanitized messages, in one RE2 pass.

    Returns the int32 ``pri``/``syslogfacility``/``syslogseverity``
    arrays and the after-PRI text (offAfterPRI, msg.h:70). Same values
    as ``pri_expr``, including a null message -> LOG_PRI_INVLD; its
    after-PRI text is ''."""
    raw = raw.cast(pa.string())
    # a null message decodes to LOG_PRI_INVLD, like pri_expr
    lt = pc.fill_null(pc.starts_with(raw, "<"), True)
    raw = pc.fill_null(raw, "")
    g = _extract(raw, _AFTER_PRI_RE)
    digits = _ints(g["d"])
    valid = g["_ok"].to_numpy(zero_copy_only=False) & (digits <= LOG_MAXPRI)
    pri = np.where(
        valid, digits,
        np.where(lt.to_numpy(zero_copy_only=False), LOG_PRI_INVLD, DEFUPRI),
    ).astype(np.int32)
    after_pri = pc.if_else(pa.array(valid), pc.fill_null(g["rest"], ""), raw)
    ints = {
        "pri": pri,
        "syslogfacility": np.minimum(pri >> 3, 24),
        "syslogseverity": pri & 7,
    }
    return {k: pa.array(v, pa.int32()) for k, v in ints.items()}, after_pri


def facility_expr(pri: Column) -> Column:
    """pri2fac: fac = pri>>3, > 23 → LOG_FAC_INVLD=24 (rsyslog.h:228-236)."""
    fac = F.shiftright(pri, 3)
    return F.when(fac > 23, F.lit(24)).otherwise(fac)


def severity_expr(pri: Column) -> Column:
    """pri2sev: pri & 7 (rsyslog.h:237)."""
    return pri.bitwiseAND(F.lit(7))


def with_pri(df: DataFrame, raw_col: str = "text") -> DataFrame:
    """Add pri / syslogfacility / syslogseverity / rawmsg_after_pri columns."""
    raw = F.col(raw_col)
    pri = pri_expr(raw)
    return (
        df.withColumn("pri", pri)
        .withColumn("syslogfacility", facility_expr(F.col("pri")))
        .withColumn("syslogseverity", severity_expr(F.col("pri")))
        .withColumn("rawmsg_after_pri", after_pri_expr(raw))
    )


def after_pri_expr(raw: Column) -> Column:
    """The message without the consumed PRI header (offAfterPRI)."""
    return raw.substr(pri_len_expr(raw) + 1, F.length(raw))
