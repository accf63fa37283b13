"""pandas references for the parser chain, the differential oracles of
``arrow_chain.parse_chain_arrow``.

The chain walk is ParseMsg's (runtime/parser.c:617-694): the first
parser that accepts a row owns it, and rows no parser accepts take the
discard shape (parser.c:679-687). ``parse_3164_opts`` is the pmrfc3164
instance parser with the full option set; the default chain's 3164 step
is it with every option off (``Pm3164Options()``, pmrfc3164.c:104-110).
``require_header`` (an extension of this engine) accepts a 3164 row
when it has no header to parse, a PRI, or a timestamp.

The references run their regexes through ``extract``/``matches``: RE2
(``pyarrow.compute``) with a pandas fallback for a pattern outside RE2's
regular subset. RE2 caveat vs python-re: a non-participating group in a
MATCHING row is "" (python: NaN), so callers test non-emptiness, not
notna, to detect alternation branches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from rsyslog_spark.parse.chain import _FIELDS
from rsyslog_spark.parse.pm3164 import (
    _RE_TAG,
    _RE_TS3339_HEAD,
    Pm3164Options,
    _host_re_ext,
    _ts3164_re_ext,
)
from rsyslog_spark.parse.pm5424 import _RE_5424, _RE_TS3339

_RE2_OK: dict[str, bool] = {}


def _to_arrow(s: pd.Series):
    return pa.Array.from_pandas(s, type=pa.string())


def extract(s: pd.Series, pattern: str) -> pd.DataFrame:
    """``s.str.extract(pattern)`` equivalent (named groups only).

    Returns a DataFrame with one object column per named group; rows
    that don't match get NaN/None in every column.
    """
    if _RE2_OK.get(pattern, True) and len(s):
        try:
            res = pc.extract_regex(_to_arrow(s), pattern)
        except pa.lib.ArrowInvalid:
            _RE2_OK[pattern] = False
        else:
            # flatten() merges the struct's validity into the children —
            # res.field(i) would return "" for non-matching rows
            fields = res.flatten()
            cols = {
                f.name: fields[i].to_pandas().set_axis(s.index)
                for i, f in enumerate(res.type)
            }
            return pd.DataFrame(cols, index=s.index)
    return s.str.extract(pattern)


def matches(s: pd.Series, pattern: str) -> pd.Series:
    """``s.str.match(pattern)`` equivalent (anchored at start)."""
    anchored = pattern if pattern.startswith("^") else "^" + pattern
    if _RE2_OK.get(anchored, True) and len(s):
        try:
            res = pc.match_substring_regex(_to_arrow(s), anchored)
        except pa.lib.ArrowInvalid:
            _RE2_OK[anchored] = False
        else:
            return res.to_pandas().set_axis(s.index).fillna(False)
    return s.str.match(pattern).fillna(False)


def parse_ts3339(ts: pd.Series) -> pd.Series:
    """RFC3339 timestamp text -> datetime64[us] UTC-naive (NaT on fail).

    Reference: ParseTIMESTAMP3339, runtime/datetime.c:292. Offsets are
    normalized to UTC (the reference keeps the zone in struct syslogTime;
    our engine stores instants in UTC, session tz pinned to UTC).
    """
    g = extract(ts, _RE_TS3339)
    ok = g["y"].notna()
    out = pd.Series(pd.NaT, index=ts.index, dtype="datetime64[us]")
    if ok.any():
        frac = g.loc[ok, "frac"].fillna("")
        base = (
            g.loc[ok, "y"] + "-" + g.loc[ok, "mo"] + "-" + g.loc[ok, "d"]
            + " " + g.loc[ok, "hh"] + ":" + g.loc[ok, "mi"] + ":"
            + g.loc[ok, "sec"] + frac
        )
        parsed = pd.to_datetime(base, format="ISO8601", errors="coerce")
        zone = g.loc[ok, "zone"].str.upper()
        offs = pd.Series(pd.Timedelta(0), index=zone.index)
        has_off = zone != "Z"
        if has_off.any():
            sign = np.where(zone[has_off].str[0] == "-", -1, 1)
            hh = zone[has_off].str[1:3].astype(int)
            mm = zone[has_off].str[4:6].astype(int)
            offs[has_off] = pd.to_timedelta(sign * (hh * 60 + mm), unit="m")
            # offset ranges: hour 0-23, minute 0-59 (datetime.c:386-396)
            parsed[zone.index[has_off][(hh > 23) | (mm > 59)]] = pd.NaT
        out[ok] = (parsed - offs).astype("datetime64[us]")
    return out


_MONTH_NUM = {
    m: i + 1
    for i, m in enumerate(
        ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
         "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    )
}


def _ts3164_values(g: pd.DataFrame, recv_ts: pd.Series) -> tuple[pd.Series, pd.Series]:
    """(timestamp_text, timereported) for matched 3164 groups. The year
    is ``g['year']`` where stated (datetime.c:783-784), else estimated
    from reception time with Dec/Jan rollover (datetime.c:465 ff.;
    rainerscript.c:2620-2633)."""
    mon = g["mon"].map(_MONTH_NUM).astype(int)
    ry = recv_ts.dt.year.fillna(2024).astype(int)
    rm = recv_ts.dt.month.fillna(1).astype(int)
    est = ry.copy()
    est[(mon == 12) & (rm == 1)] = ry - 1
    est[(mon == 1) & (rm == 12)] = ry + 1
    year = g["year"].fillna(est).astype(int)
    hour, minute, sec = (g[c].astype(int) for c in ("h", "mi", "s"))
    t = pd.to_datetime(
        pd.DataFrame(
            {
                "year": year.values,
                "month": mon.values,
                "day": g["day"].str.strip().astype(int).values,
                "hour": hour.values,
                "minute": minute.values,
                "second": sec.values,
            }
        ),
        errors="coerce",
    )
    t.index = g.index
    # pandas rolls ANY out-of-range field over (24:00 -> next day); the
    # reference accepts hour 0-23, minute 0-59 and second 0-60 (leap
    # second, datetime.c:707) — reject the rest like it does
    t = t.where((hour <= 23) & (minute <= 59) & (sec <= 60))
    txt = g["mon"] + " " + g["day"] + " " + g["h"] + ":" + g["mi"] + ":" + g["s"]
    return txt, t.where(t.notna(), recv_ts).astype("datetime64[us]")


def parse_3164_opts(
    after_pri: pd.Series,
    facility: pd.Series,
    recv_ts: pd.Series,
    opts: Pm3164Options,
    fromhost: pd.Series | None = None,
    has_pri: pd.Series | None = None,
) -> pd.DataFrame:
    """parser(type="pmrfc3164" ...) instance parse: the full pmrfc3164
    walk with the option set + ParseTIMESTAMP3164's ungated year forms
    (see the pm3164.py docstring). Always accepts (the stock module never
    returns COULD_NOT_PARSE). Returns the PARSED_STRUCT fields +
    ``accepted`` + ``timereported``."""
    s = after_pri.fillna("")
    n = len(s)
    idx = s.index
    if fromhost is None:
        fromhost = pd.Series([""] * n, index=idx, dtype="object")
    if has_pri is None:
        has_pri = pd.Series(True, index=idx)

    hostname = fromhost.astype("object").copy()
    tag = pd.Series([""] * n, index=idx, dtype="object")
    msg = pd.Series([""] * n, index=idx, dtype="object")
    ts_text = pd.Series([None] * n, index=idx, dtype="object")
    timereported = pd.Series(recv_ts.values, index=idx).astype(
        "datetime64[us]"
    )

    fac_invld = facility == 24
    headerless = ~fac_invld & matches(s, r"^[ \t]*[\{\[]")
    noheader = fac_invld | headerless
    msg[noheader] = s[noheader]

    rest = s[~noheader].copy()

    # timestamp cascade: 3339 -> extended 3164 -> HP retry
    g39 = extract(rest, _RE_TS3339_HEAD)
    m39 = g39["all"].notna()
    if m39.any():
        i39 = g39.index[m39]
        ts_text[i39] = g39.loc[i39, "all"]
        t = parse_ts3339(g39.loc[i39, "all"])
        timereported[i39] = t.where(t.notna(), recv_ts[i39]).astype(
            "datetime64[us]"
        )
        rest.loc[i39] = g39.loc[i39, "rest"].fillna("")

    def _year_fixup(g: pd.DataFrame) -> pd.Series:
        """Validate pyear/myear/ayear groups; returns the boolean mask
        of rows whose timestamp match survives. Mutates g['rest'] for
        unused after-time years and fills g['year'] (NaN = estimate)."""
        ok = g["mon"].notna()
        py = pd.to_numeric(g["pyear"], errors="coerce")
        my = pd.to_numeric(g["myear"], errors="coerce")
        has_py = g["pyear"].notna() & (g["pyear"] != "")
        has_my = g["myear"].notna() & (g["myear"] != "")
        # datetime.c:503-505: prepended year out of 1970..2100 aborts
        ok &= ~has_py | ((py >= 1970) & (py <= 2100))
        # :678-690 year-in-hour gated on year==0; with a prepended
        # year, the 4-digit "hour" fails the 0..23 gate -> abort
        ok &= ~(has_py & has_my)
        ok &= ~has_my | ((my > 1970) & (my < 2100))
        year = py.where(has_py, my.where(has_my, np.nan))
        if "ayear" in g:
            has_ay = g["ayear"].notna() & (g["ayear"] != "")
            ay = pd.to_numeric(
                g["ayear"].str.strip(), errors="coerce"
            )
            use = (
                has_ay & year.isna() & (ay >= 2000) & (ay < 2100)
            )
            # unused after-time year returns to MSG with the C's
            # pointer untouched (datetime.c:752-753): SP skipped by
            # the regular delimiter logic, year text + tolerated
            # colon re-join the remainder
            back = has_ay & ~use
            if back.any():
                bi = g.index[back]
                restp = g.loc[bi, "rest"]
                g.loc[bi, "rest"] = (
                    g.loc[bi, "ayear"].str[1:]
                    + g.loc[bi, "xcolon"].fillna("")
                    + (" " + restp).where(restp.notna(), "")
                )
            year = year.where(~use, ay)
        g["year"] = year
        return ok

    def _apply_3164(g: pd.DataFrame, ok: pd.Series) -> None:
        if not ok.any():
            return
        ix = g.index[ok]
        ts_text[ix], timereported[ix] = _ts3164_values(g.loc[ix], recv_ts[ix])
        rest.loc[ix] = g.loc[ix, "rest"].fillna("")

    re_head = _ts3164_re_ext(False, opts.detect_year_after_timestamp)
    re_hp = _ts3164_re_ext(True, opts.detect_year_after_timestamp)

    un = rest.index[~m39]
    g64 = extract(rest.loc[un], re_head)
    ok64 = _year_fixup(g64)
    _apply_3164(g64, ok64)

    unhp = g64.index[~ok64]
    if len(unhp):
        ghp = extract(rest.loc[unhp], re_hp)
        okhp = _year_fixup(ghp)
        _apply_3164(ghp, okhp)

    # hostname heuristic with the option-extended class
    gh = extract(rest, _host_re_ext(opts))
    for fullg, spg, restg in (
        ("bfull", "bsp", "brest"),
        ("hfull", "hsp", "hrest"),
    ):
        if fullg not in gh:
            continue
        full = gh[fullg].notna() & (gh[fullg] != "")
        sp = gh[spg].notna() & (gh[spg] != "")
        if full.any():
            hostname[gh.index[full]] = gh.loc[full, fullg]
            rest.loc[gh.index[full]] = ""
        if sp.any():
            hostname[gh.index[sp]] = gh.loc[sp, spg]
            rest.loc[gh.index[sp]] = gh.loc[sp, restg]

    # TAG
    gt = extract(rest, _RE_TAG)
    tagv = gt["tag"].fillna("") + gt["colon"].fillna("")
    msgv = gt["mrest"].fillna("")
    if opts.force_tag_ending_by_colon:
        # pmrfc3164.c:350-360: no ':' terminator -> TAG '-' and
        # p2parse -= (i+1): the scan text PLUS the one char before it
        # (the delimiter the previous stage consumed; '>' of the PRI
        # when nothing was consumed; the C reads out of the buffer
        # when there is no PRI either — modeled as '')
        forced = gt["colon"].fillna("") == ""
        if forced.any():
            fi = gt.index[forced]
            sv = s[fi]
            rv = rest.loc[fi]
            prev = [
                (
                    t[p - 1]
                    if (p := len(t) - len(r)) > 0
                    else (">" if hp else "")
                )
                for t, r, hp in zip(sv, rv, has_pri[fi])
            ]
            tagv.loc[fi] = "-"
            msgv.loc[fi] = pd.Series(prev, index=fi) + rv
    tag[rest.index] = tagv.values
    msg[rest.index] = msgv.values

    if opts.remove_msg_first_space:
        # finalize_it (:375-380) — runs on EVERY path, including the
        # headerless / invalid-facility early FINALIZE
        msg = msg.str.replace("^ ", "", n=1, regex=True)

    return pd.DataFrame(
        {
            "accepted": pd.Series(True, index=idx),
            "protocol_version": np.zeros(n, dtype="int32"),
            "timestamp_text": ts_text,
            "hostname": hostname,
            "syslogtag": tag,
            "app_name": pd.Series([None] * n, index=idx, dtype="object"),
            "procid": pd.Series([None] * n, index=idx, dtype="object"),
            "msgid": pd.Series([None] * n, index=idx, dtype="object"),
            "structured_data": pd.Series(
                [None] * n, index=idx, dtype="object"
            ),
            "msg": msg,
            "timereported": timereported,
        },
        index=idx,
    )


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

    g = extract(s[accepted], _RE_5424)
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
