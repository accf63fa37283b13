"""pandas reference for the parser chain, the differential oracle of
``arrow_chain.parse_chain_arrow``.

The chain walk is ParseMsg's (runtime/parser.c:617-694): the first
parser that accepts a row owns it, and rows no parser accepts take the
discard shape (parser.c:679-687). The 3164 step is the pmrfc3164
instance parser with every option off (``parse_3164_opts(...,
Pm3164Options())``, pmrfc3164.c:104-110), the module the default chain
runs. ``require_header`` (an extension of this engine) accepts a 3164
row when it has no header to parse, a PRI, or a timestamp.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from rsyslog_spark.parse import fastre
from rsyslog_spark.parse.chain import _FIELDS
from rsyslog_spark.parse.pm3164 import Pm3164Options, parse_3164_opts
from rsyslog_spark.parse.pm5424 import _RE_5424, parse_ts3339


def parse_5424(after_pri: pd.Series, recv_ts: pd.Series) -> pd.DataFrame:
    """Vectorized RFC5424 parse.

    Returns a DataFrame with the PARSED_STRUCT fields plus ``accepted``
    (bool: this parser claimed the row) and ``timereported``.
    """
    n = len(after_pri)
    s = after_pri.fillna("")
    accepted = s.str.startswith("1 ")

    out = pd.DataFrame(
        {
            "accepted": accepted,
            "protocol_version": np.where(accepted, 1, 0),
            "timestamp_text": pd.Series([None] * n, dtype="object"),
            "hostname": pd.Series([None] * n, dtype="object"),
            "syslogtag": pd.Series([None] * n, dtype="object"),
            "app_name": pd.Series([None] * n, dtype="object"),
            "procid": pd.Series([None] * n, dtype="object"),
            "msgid": pd.Series([None] * n, dtype="object"),
            "structured_data": pd.Series([None] * n, dtype="object"),
            "msg": pd.Series([None] * n, dtype="object"),
            "timereported": pd.Series(pd.NaT, index=s.index, dtype="datetime64[us]"),
        },
        index=s.index,
    )
    if not accepted.any():
        return out

    g = fastre.extract(s[accepted], _RE_5424)
    matched = g["ts"].notna()
    # Rows passing the "1 " guard but failing the full header regex are
    # still owned by this parser (the guard decided, pmrfc5424.c:224-226);
    # their fields stay empty and MSG gets the remainder after "1 ".
    idx_ok = g.index[matched]
    out.loc[idx_ok, "timestamp_text"] = g.loc[idx_ok, "ts"]
    out.loc[idx_ok, "hostname"] = g.loc[idx_ok, "host"]
    out.loc[idx_ok, "app_name"] = g.loc[idx_ok, "app"]
    out.loc[idx_ok, "procid"] = g.loc[idx_ok, "procid"]
    out.loc[idx_ok, "msgid"] = g.loc[idx_ok, "msgid"]
    out.loc[idx_ok, "structured_data"] = g.loc[idx_ok, "sd"]
    out.loc[idx_ok, "msg"] = g.loc[idx_ok, "msg"].fillna("")

    idx_bad = g.index[~matched]
    if len(idx_bad):
        out.loc[idx_bad, "msg"] = s[idx_bad].str[2:]
        for c in ("hostname", "app_name", "procid", "msgid",
                  "structured_data", "timestamp_text"):
            out.loc[idx_bad, c] = "-"

    # TAG emulation (msg.c:2482-2514)
    app = out.loc[accepted, "app_name"].fillna("-")
    procid = out.loc[accepted, "procid"].fillna("-")
    tag = np.where(procid == "-", app, app + "[" + procid + "]")
    out.loc[accepted, "syslogtag"] = tag

    # timereported: parse RFC3339, '-' or unparsable -> reception time
    ts_txt = out.loc[accepted, "timestamp_text"].fillna("-")
    parsed = parse_ts3339(ts_txt)
    rec = recv_ts[accepted]
    out.loc[accepted, "timereported"] = parsed.where(parsed.notna(), rec)
    return out


def parse_3164(after_pri, facility, recv_ts, fromhost, has_pri,
               require_header):
    """The options-off pmrfc3164 instance plus ``require_header``'s
    accept: no header to parse | PRI | timestamp."""
    r = parse_3164_opts(
        after_pri, facility, recv_ts, Pm3164Options(),
        fromhost=fromhost, has_pri=has_pri,
    )
    if require_header:
        s = after_pri.fillna("")
        noheader = (facility == 24) | s.str.match(r"^[ \t]*[\{\[]")
        r["accepted"] = noheader | has_pri | r["timestamp_text"].notna()
    return r


def parse_chain_pd(
    after_pri: pd.Series,
    facility: pd.Series,
    recv_ts: pd.Series,
    fromhost: pd.Series,
    has_pri: pd.Series,
    parsers: tuple[str, ...] = ("rfc5424", "rfc3164"),
    require_header: bool = False,
) -> pd.DataFrame:
    """The chain over pandas Series -> PARSED_STRUCT columns."""
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
            r = parse_5424(after_pri[sel], recv_ts[sel])
        elif p == "rfc3164":
            r = parse_3164(
                after_pri[sel], facility[sel], recv_ts[sel],
                fromhost[sel], has_pri[sel], require_header,
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
