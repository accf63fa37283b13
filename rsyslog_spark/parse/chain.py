"""Parser-chain driver (reference: ParseMsg, runtime/parser.c:617-694).

The reference tries each parser in the ruleset's parser list (default
``[pmrfc5424, pmrfc3164]``, runtime/ruleset.c:686-690 with fallback
parser.c:646-648); the first parser not returning COULD_NOT_PARSE wins
(parser.c:654-672). If none accepts, the message is discarded with a
rate-limited error (parser.c:679-687) — here: ``parse_success = false``
and the row is routable to a parse_errors sink instead of being dropped.

Spark shape: ONE ``mapInArrow`` pass (``with_parsed``) does all the
per-message work of ParseMsg over each Arrow batch — sanitize, PRI
decode and the parser chain — so each row crosses the JVM<->Python
boundary exactly once; programname/procid derivation happens natively
after it. The reference's analog of our Arrow batch is its dequeue batch
of 128 messages (runtime/queue.c:1534).
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rsyslog_spark.parse.arrow_chain import parse_chain_arrow
from rsyslog_spark.parse.pm3164 import parse_3164
from rsyslog_spark.parse.pm5424 import parse_5424
from rsyslog_spark.parse.pri import _pri_len_sql, decode_pri_arrow
from rsyslog_spark.parse.sanitize import sanitize_arrow
from rsyslog_spark.schema import PARSED_STRUCT

_FIELDS = [f.name for f in PARSED_STRUCT.fields]
_PRI_COLS = ["pri", "syslogfacility", "syslogseverity"]


def parse_chain_pd(
    after_pri: pd.Series,
    facility: pd.Series,
    recv_ts: pd.Series,
    fromhost: pd.Series,
    has_pri: pd.Series,
    parsers: tuple[str, ...] = ("rfc5424", "rfc3164"),
    require_header: bool = False,
) -> pd.DataFrame:
    """Pure-pandas chain (also used directly by unit tests)."""
    n = len(after_pri)
    idx = after_pri.index
    out = pd.DataFrame(index=idx)
    remaining = pd.Series(True, index=idx)
    parser_name = pd.Series([None] * n, index=idx, dtype="object")
    parts: list[pd.DataFrame] = []

    for p in parsers:
        if not remaining.any():
            break
        sel = remaining[remaining].index
        if p == "lastmsg":
            # pmlastmsg (plugins/pmlastmsg/pmlastmsg.c:90-130): after
            # optional leading spaces, EXACTLY "last message repeated
            # <digits> times" (case-insensitive); on accept: legacy
            # protocol, TS = received time, MSG = whole after-PRI text
            # (MsgSetMSGoffs(offAfterPRI) — spaces NOT stripped), TAG ''
            s = after_pri[sel].fillna("")
            acc = s.str.match(
                r"^ *last message repeated \d+ times$", case=False
            )
            took = sel[acc.values]
            if not len(took):
                continue
            r = pd.DataFrame(index=took)
            r["protocol_version"] = 0
            r["timestamp_text"] = None
            r["hostname"] = fromhost[took]
            r["syslogtag"] = ""
            r["app_name"] = None
            r["procid"] = None
            r["msgid"] = None
            r["structured_data"] = None
            r["msg"] = after_pri[took]
            r["timereported"] = recv_ts[took]
            parser_name[took] = p
            parts.append(r)
            remaining[took] = False
            continue
        if p == "rfc5424":
            # the version guard ("1 " prefix, pmrfc5424.c:224-226) is the
            # accept decision — prefilter so the parser only materializes
            # frames for its own rows (the guard is one cheap pass)
            from rsyslog_spark.parse import fastre as _fr
            cand = _fr.startswith(after_pri[sel].fillna(""), "1 ")
            sel = sel[cand.values]
            if not len(sel):
                continue
            r = parse_5424(after_pri[sel], recv_ts[sel])
        elif p == "rfc3164":
            r = parse_3164(
                after_pri[sel],
                facility[sel],
                recv_ts[sel],
                fromhost=fromhost[sel],
                has_pri=has_pri[sel],
                require_header=require_header,
            )
        else:
            raise ValueError(f"unknown parser {p!r}")
        acc = r["accepted"]
        took = acc[acc].index
        parser_name[took] = p
        parts.append(r.loc[took])
        remaining[took] = False

    body = (
        pd.concat(parts).reindex(idx)
        if parts
        else pd.DataFrame(index=idx, columns=[c for c in _FIELDS if c != "parser"])
    )
    for c in _FIELDS:
        if c in ("parse_success", "parser"):
            continue
        out[c] = body[c] if c in body else None

    # chain exhausted -> discard path (parser.c:679-687): success=false,
    # MSG carries the whole unparsed text for the errors sink.
    failed = remaining
    out["parse_success"] = ~failed
    out["parser"] = parser_name.where(~failed, "none")
    if failed.any():
        fi = failed[failed].index
        out.loc[fi, "msg"] = after_pri[fi]
        out.loc[fi, "hostname"] = fromhost[fi]
        out.loc[fi, "protocol_version"] = 0
        out.loc[fi, "timereported"] = recv_ts[fi]
    out["protocol_version"] = out["protocol_version"].fillna(0).astype("int32")
    out["timereported"] = pd.to_datetime(out["timereported"]).astype("datetime64[us]")
    return out[_FIELDS]


@lru_cache(maxsize=8)
def _chain_udf(parsers: tuple[str, ...], require_header: bool):
    @F.pandas_udf(PARSED_STRUCT)
    def udf(
        after_pri: pd.Series,
        facility: pd.Series,
        recv_ts: pd.Series,
        fromhost: pd.Series,
        has_pri: pd.Series,
    ) -> pd.DataFrame:
        return parse_chain_pd(
            after_pri,
            facility,
            recv_ts,
            fromhost,
            has_pri,
            parsers=parsers,
            require_header=require_header,
        )

    return udf


def parse_chain(
    after_pri: Column,
    facility: Column,
    recv_ts: Column,
    fromhost: Column,
    has_pri: Column,
    parsers: tuple[str, ...] = ("rfc5424", "rfc3164"),
    require_header: bool = False,
) -> Column:
    """Column expression: full parser chain -> PARSED_STRUCT."""
    return _chain_udf(tuple(parsers), require_header)(
        after_pri, facility, recv_ts, fromhost, has_pri
    )


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
    engine: str = "arrow",
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
    fields come back. ``engine="arrow"`` runs the stock parser orders
    through ``parse_chain_arrow``; other orders fall back to the pandas
    chain after the same sanitize/PRI prelude. Two rejected
    alternatives, both measured slower at 1M rows: a struct-returning
    pandas UDF (projection collapse duplicates the UDF per extracted
    field — observed 2x ArrowEvalPython), and mapInPandas (object-ifies
    every pass-through column both ways ~2.7x the parse CPU itself).
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
    _PA_TYPES = {
        "protocol_version": "int32",
        "parse_success": "bool",
        "timereported": "timestamp_us",
    }

    _ARROW_CHAINS = {
        ("rfc5424", "rfc3164"): False,
        ("lastmsg", "rfc5424", "rfc3164"): True,
    }
    if engine == "arrow" and tuple(parsers) not in _ARROW_CHAINS:
        engine = "pandas"  # arrow fast path implements the stock chains
    with_lastmsg = _ARROW_CHAINS.get(tuple(parsers), False)
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
            if engine == "arrow":
                # zero-object path: strings never leave Arrow
                out_a = parse_chain_arrow(
                    after_pri,
                    ints["syslogfacility"],
                    col[recv_ts_col],
                    fromhost_a,
                    has_pri,
                    require_header=require_header,
                    with_lastmsg=with_lastmsg,
                )
                arrays += [out_a[f] for f in _FIELDS]
                yield pa.RecordBatch.from_arrays(arrays, names=out_names)
                continue
            recv = col[recv_ts_col].to_pandas()
            if getattr(recv.dtype, "tz", None) is not None:
                # arrow carries the session tz (UTC); the chain works in
                # naive-UTC wall time like the rest of the engine
                recv = recv.dt.tz_localize(None)
            out = parse_chain_pd(
                after_pri.to_pandas(),
                ints["syslogfacility"].to_pandas(),
                recv,
                fromhost_a.to_pandas(),
                has_pri.to_pandas(),
                parsers=tuple(parsers),
                require_header=require_header,
            )
            for f in _FIELDS:
                t = _PA_TYPES.get(f)
                if t == "int32":
                    arrays.append(pa.array(out[f], type=pa.int32()))
                elif t == "bool":
                    arrays.append(pa.array(out[f], type=pa.bool_()))
                elif t == "timestamp_us":
                    arrays.append(
                        pa.Array.from_pandas(out[f], type=pa.timestamp("us"))
                    )
                else:
                    arrays.append(pa.array(out[f], type=pa.string()))
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    df = pre.mapInArrow(_run, out_schema)
    if keep_raw:
        # rawmsg-after-pri property (msg.h:70 offAfterPRI) re-derived
        # natively — cheap JVM substring instead of an Arrow string column
        df = df.withColumn(
            "rawmsg_after_pri",
            F.expr(f"substring(rawmsg, 1 + {_pri_len_sql('rawmsg')})"),
        )
    df = df.withColumn("timegenerated", F.col(recv_ts_col))
    df = df.withColumn(
        "programname", F.regexp_extract(F.col("syslogtag"), _PROGNAME_RE, 1)
    )
    # legacy procid emulation only applies to protocol 0 rows with no
    # explicit procid (msg.c:1505-1507 "only if legacy format")
    df = df.withColumn(
        "procid",
        F.when(
            (F.col("protocol_version") == 0)
            & (F.coalesce(F.col("procid"), F.lit("")) == ""),
            F.regexp_extract(F.col("syslogtag"), _PROCID_RE, 1),
        ).otherwise(F.col("procid")),
    )
    return df
