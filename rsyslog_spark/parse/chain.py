"""Parser-chain driver (reference: ParseMsg, runtime/parser.c:617-694).

The reference tries each parser in the ruleset's parser list (default
``[pmrfc5424, pmrfc3164]``, runtime/ruleset.c:686-690 with fallback
parser.c:646-648); the first parser not returning COULD_NOT_PARSE wins
(parser.c:654-672). If none accepts, the message is discarded with a
rate-limited error (parser.c:679-687) — here: ``parse_success = false``
and the row is routable to a parse_errors sink instead of being dropped.

Spark shape: ONE ``mapInArrow`` pass (``with_parsed``) does all the
per-message work of ParseMsg over each Arrow batch — sanitize, PRI
decode and the parser chain (``arrow_chain.parse_chain_arrow``, the one
runtime for every parser order) — so each row crosses the JVM<->Python
boundary exactly once; programname/procid derivation happens natively
after it. The reference's analog of our Arrow batch is its dequeue batch
of 128 messages (runtime/queue.c:1534).
"""

from __future__ import annotations

import functools

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rsyslog_spark.parse.arrow_chain import check_parsers, parse_chain_arrow
from rsyslog_spark.parse.pri import after_pri_expr, decode_pri_arrow
from rsyslog_spark.parse.sanitize import sanitize_arrow
from rsyslog_spark.schema import PARSED_STRUCT

_FIELDS = [f.name for f in PARSED_STRUCT.fields]
_PRI_COLS = ["pri", "syslogfacility", "syslogseverity"]


# programname: TAG prefix ended by end / nonprint / ':' / '[' / '/'
# (FreeBSD rule, runtime/msg.c:1545-1586) — native regex, lazy in the
# reference, eager-but-codegen'd here.
_PROGNAME_RE = r"^([^:\[/]*)"
# legacy PROCID emulation: text between '[' and ']' of TAG
# (aquirePROCIDFromTAG, runtime/msg.c:1495-1542); '' when absent.
_PROCID_RE = r"^[^\[]*\[([^\]]*)\]"


def with_parsed(
    df: DataFrame,
    text_col: str = "text",
    recv_ts_col: str = "ts",
    fromhost_col: str | None = None,
    parsers: tuple[str, ...] = ("rfc5424", "rfc3164"),
    require_header: bool = False,
    keep_raw: bool = True,
) -> DataFrame:
    """Full parse pipeline: sanitize -> PRI -> parser chain -> derived cols.

    Adds: rawmsg*, pri, syslogfacility, syslogseverity,
    rawmsg_after_pri*, protocol_version, timestamp_text, hostname,
    syslogtag, app_name, procid, msgid, structured_data, msg,
    parse_success, parser, timereported, timegenerated, programname
    (* only with ``keep_raw=True``).

    ONE ``mapInArrow`` pass per partition does all per-message work,
    like the reference's one ParseMsg pass per dequeued batch
    (runtime/parser.c:617-694, queue.c:1534): the raw ``text`` ships in
    and the worker runs SanitizeMsg (``sanitize_arrow``), ParsePRI
    (``decode_pri_arrow``) and the parser chain on each Arrow batch, so
    the JVM evaluates no regex below the crossing and the message text
    crosses the boundary exactly once inbound. ``keep_raw=False`` (the
    flagship/routing path, which never reads rawmsg downstream) leaves
    the sanitized text out of the RETURN batch too — only the parsed
    fields come back. ``parsers`` is any order of any subset of lastmsg
    / rfc5424 / rfc3164, checked here before any job runs (ValueError
    on an unknown name) and run by ``parse_chain_arrow``. Rejected: a
    scalar ``F.arrow_udf`` returning a struct plans one ArrowEvalPython
    on Spark 4.1 but ran no faster on perfbench ``flagship_counts``
    (scaled p50 1.89 vs 1.77 s over 12 alternating pairs, PERF.md
    "Driver plan-build floor"); mapInPandas object-ifies every
    pass-through column both ways (~2.7x the parse CPU itself).
    """
    pre = df.withColumn("_fromhost", F.col(fromhost_col)) if fromhost_col else df
    made = {text_col, "rawmsg", *_PRI_COLS}
    passthrough = [f for f in df.schema.fields if f.name not in made]
    keep = [f.name for f in passthrough]
    if keep_raw:
        passthrough.append(T.StructField("rawmsg", T.StringType()))
    out_schema = T.StructType(
        passthrough
        + [T.StructField(c, T.IntegerType()) for c in _PRI_COLS]
        + list(PARSED_STRUCT.fields)
    )
    out_names = [f.name for f in out_schema.fields]
    parsers = check_parsers(parsers)
    has_fromhost = bool(fromhost_col)

    def _run(batches):
        for batch in batches:
            col = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            rawmsg = sanitize_arrow(col[text_col])
            ints, after_pri = decode_pri_arrow(rawmsg)
            has_pri = pc.fill_null(pc.starts_with(rawmsg, "<"), False)
            arrays = [col[n] for n in keep]
            if keep_raw:
                arrays.append(rawmsg)
            arrays += [ints[c] for c in _PRI_COLS]
            fromhost_a = (
                col["_fromhost"]
                if has_fromhost
                else pa.array([""] * len(rawmsg), pa.string())
            )
            # zero-object path: strings never leave Arrow
            out_a = parse_chain_arrow(
                after_pri,
                ints["syslogfacility"],
                col[recv_ts_col],
                fromhost_a,
                has_pri,
                parsers=parsers,
                require_header=require_header,
            )
            arrays += [out_a[f] for f in _FIELDS]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    # a copy: the cache hands every caller the same dict
    return pre.mapInArrow(_run, out_schema).withColumns(
        dict(_tail(recv_ts_col, keep_raw, SparkContext._gateway))
    )


@functools.cache
def _tail(recv_ts_col: str, keep_raw: bool, _gateway) -> dict:
    """The native columns after the crossing (none reads another), built
    once per py4j gateway: every Column op is a JVM round trip."""
    tail = {
        "timegenerated": F.col(recv_ts_col),
        "programname": F.regexp_extract(F.col("syslogtag"), _PROGNAME_RE, 1),
        # legacy procid emulation only applies to protocol 0 rows with
        # no explicit procid (msg.c:1505-1507 "only if legacy format")
        "procid": F.when(
            (F.col("protocol_version") == 0)
            & (F.coalesce(F.col("procid"), F.lit("")) == ""),
            F.regexp_extract(F.col("syslogtag"), _PROCID_RE, 1),
        ).otherwise(F.col("procid")),
    }
    if keep_raw:
        # rawmsg-after-pri property (msg.h:70 offAfterPRI) re-derived
        # natively — cheap JVM substring instead of an Arrow string column
        tail = {"rawmsg_after_pri": after_pri_expr(F.col("rawmsg")), **tail}
    return tail
