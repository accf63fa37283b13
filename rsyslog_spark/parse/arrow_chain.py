"""The parser chain over Arrow arrays: the one runtime of ParseMsg.

Semantics per parser are cited in pm3164.py/pm5424.py (tools/pmrfc3164.c,
tools/pmrfc5424.c, plugins/pmlastmsg/pmlastmsg.c); the execution keeps
every string a pyarrow Array end-to-end (RE2 extracts, C++ if_else
merges), so no PyObject is allocated per row. Only the timestamp
component math drops to numpy (integer arrays, vectorized).

Control flow is ParseMsg's walk (runtime/parser.c:617-694): each parser
of the list, in order, gets the rows no earlier parser owns and returns
its accept mask plus its columns for the rows it took; the rows left at
the end take the discard shape in one place (parser.c:679-687). Each
parser runs its regexes only on rows still unowned, and the parts are
concatenated and ``take``n back into input order.

``_rfc3164`` is the one pmrfc3164 runtime: the default chain runs it
with every option off (pmrfc3164.c:104-110), and ``parser(type=
"pmrfc3164" ...)`` instances run it with their ``Pm3164Options``
(``chain_custom``). The pandas instance parser in
tests/parse_reference.py is its semantic reference, checked row-for-row
by the differential fuzz (tests/test_chain_fuzz.py) and by the DuckDB
oracle gate.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from rsyslog_spark.parse.pm3164 import (
    _RE_TAG,
    _RE_TS3339_HEAD,
    Pm3164Options,
    _host_re_ext,
    _ts3164_re_ext,
)
from rsyslog_spark.parse.pm5424 import _RE_5424, _RE_TS3339

_EMPTY = pa.scalar("", pa.string())


def _extract(arr: pa.Array, pattern: str) -> dict[str, pa.Array]:
    """extract_regex -> {group: array}; struct validity pushed into the
    children (res.field() would return '' for non-matching rows)."""
    res = pc.extract_regex(arr, pattern)
    names = [f.name for f in res.type]
    fields = res.flatten()
    out = {n: fields[i] for i, n in enumerate(names)}
    out["_ok"] = pc.is_valid(res)
    return out


def _nz(arr: pa.Array) -> pa.Array:
    """Mask: non-null AND non-empty (alternation-branch detection)."""
    return pc.and_kleene(
        pc.is_valid(arr), pc.not_equal(arr, _EMPTY)
    )


def _np(arr: pa.Array) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False)


def _fill(arr: pa.Array, value="") -> pa.Array:
    return pc.fill_null(arr, value)


def _ints(arr: pa.Array, default: int = 0) -> np.ndarray:
    """String group array -> int64 numpy with default for null/empty.

    Pure arrow cast — pandas to_numeric here costs ~20s/1M-row-chain
    (24 such conversions per batch), the arrow cast is ~100x cheaper."""
    a = pc.fill_null(arr, str(default))
    a = pc.if_else(pc.equal(a, _EMPTY), pa.scalar(str(default)), a)
    return pc.cast(a, pa.int64()).to_numpy(zero_copy_only=False)


def _epoch_us(y, mo, d, hh, mi, ss) -> np.ndarray:
    """Vectorized civil-datetime -> epoch microseconds (int64).

    Days-from-civil (Howard Hinnant's algorithm) in numpy int math —
    no per-row datetime objects."""
    y = y.astype(np.int64)
    mo = mo.astype(np.int64)
    yy = y - (mo <= 2)
    era = np.where(yy >= 0, yy, yy - 399) // 400
    yoe = yy - era * 400
    doy = (153 * (np.where(mo > 2, mo - 3, mo + 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    days = era * 146097 + doe - 719468
    return ((days * 86400 + hh * 3600 + mi * 60 + ss) * 1_000_000).astype(
        "int64"
    )


_DIM = np.array([31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])


def _calendar_ok(y, mo, d, hh, mi, ss, ss_max=59) -> np.ndarray:
    """Field-range + calendar validation. The reference checks ranges
    only (month 1-12, day 1-31, hour 0-23, min 0-59, sec 0-60 —
    datetime.c:329-358) and lets mktime normalize; we additionally
    reject non-calendar dates (Feb 31), as pandas' datetime assembly in
    the instance parser does. Leap second 60 is accepted on the 3164
    path (ss_max=60, rolls into the next minute like mktime) and
    rejected on the 3339 path (ISO parsing rejects it)."""
    mo_c = np.clip(mo, 1, 12).astype(np.int64)
    dim = _DIM[mo_c - 1]
    leap = ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
    dim = np.where((mo_c == 2) & leap, 29, dim)
    return (
        (mo >= 1) & (mo <= 12) & (d >= 1) & (d <= dim)
        & (hh >= 0) & (hh <= 23) & (mi >= 0) & (mi <= 59)
        & (ss >= 0) & (ss <= ss_max)
    )


def _ts3339_us(g: dict, recv_us: np.ndarray, ok: np.ndarray) -> np.ndarray:
    """RFC3339 groups -> epoch µs (UTC-normalized); fallback recv."""
    y = _ints(g["y"], 1970)
    mo = _ints(g["mo"], 1)
    d = _ints(g["d"], 1)
    hh = _ints(g["hh"])
    mi = _ints(g["mi"])
    ss = _ints(g["sec"])
    ok = ok & _calendar_ok(y, mo, d, hh, mi, ss)
    base = _epoch_us(y, mo, d, hh, mi, ss)
    # fractional seconds: '.5' -> 500000 µs ('0'+frac casts cleanly)
    frac_s = pc.binary_join_element_wise(
        pa.scalar("0", pa.string()), _fill(g["frac"], ""), ""
    )
    frac = pc.cast(frac_s, pa.float64()).to_numpy(zero_copy_only=False)
    base = base + (frac * 1_000_000).astype("int64")
    # zone: Z / ±hh:mm -> subtract offset to normalize to UTC
    zone = _fill(g["zone"], "Z")
    neg = pc.starts_with(zone, "-").to_numpy(zero_copy_only=False)
    zh = _ints(pc.utf8_slice_codeunits(zone, 1, 3))
    zm = _ints(pc.utf8_slice_codeunits(zone, 4, 6))
    # offset hour/min ranges (datetime.c:377-392)
    ok = ok & (zh <= 23) & (zm <= 59)
    off_us = (np.where(neg, -1, 1) * (zh * 60 + zm) * 60 * 1_000_000).astype(
        "int64"
    )
    out = base - off_us
    return np.where(ok, out, recv_us)


def _civil_ym(days: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of _epoch_us's day math: days-since-epoch -> (year, month)
    (civil_from_days, same algorithm family)."""
    z = days.astype(np.int64) + 719468
    era = np.where(z >= 0, z, z - 146096) // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    m = np.where(mp < 10, mp + 3, mp - 9)
    return (y + (m <= 2)).astype(np.int64), m.astype(np.int64)


_MONTHS_ARR = pa.array(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
     "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
)


def _ts3164(g: dict, recv_us: np.ndarray) -> tuple[np.ndarray, ...]:
    """RFC3164 groups -> (match kept, epoch µs, after-time year unused).

    A stated year is range-checked and voids the match when out of
    range: prepended 1970..2100 (datetime.c:497-507), in the hour
    position 1971..2099 and never next to a prepended one (:678-690).
    A year after the time (detect.YearAfterTimestamp, :744-759) is used
    only when no other year is stated and it is in 2000..2099.
    Otherwise the year comes from reception time (datetime.c:465,
    rainerscript.c:2620-2633 Dec/Jan rollover). A kept match whose
    fields fail the calendar falls back to reception time."""
    has_py = _np(_nz(g["pyear"]))
    has_my = _np(_nz(g["myear"]))
    kept = _np(g["_ok"]) & ~(has_py & has_my)
    mo_idx = pc.index_in(_fill(g["mon"], "Jan"), value_set=_MONTHS_ARR)
    mo = pc.fill_null(mo_idx, 0).cast(pa.int64()).to_numpy(
        zero_copy_only=False
    ) + 1
    d = _ints(pc.utf8_trim_whitespace(_fill(g["day"], "1")), 1)
    hh = _ints(g["h"])
    mi = _ints(g["mi"])
    ss = _ints(g["s"])
    # a null reception time (NaN) estimates from 1970
    ry, rm = _civil_ym(np.nan_to_num(recv_us) // 86_400_000_000)
    y = ry.copy()
    y[(mo == 12) & (rm == 1)] -= 1
    y[(mo == 1) & (rm == 12)] += 1
    # the year groups are parsed only in a batch where a row states one
    if has_py.any():
        # a digit run too long for int64 is out of range anyway
        py = pc.utf8_ltrim(_fill(g["pyear"]), "0")
        py = _ints(pc.if_else(pc.greater(pc.utf8_length(py), 4), "9999", py))
        kept &= ~has_py | ((py >= 1970) & (py <= 2100))
        y = np.where(has_py, py, y)
    if has_my.any():
        my = _ints(g["myear"])
        kept &= ~has_my | ((my > 1970) & (my < 2100))
        y = np.where(has_my, my, y)
    unused = np.zeros(len(kept), dtype=bool)
    if "ayear" in g and (has_ay := _np(_nz(g["ayear"]))).any():
        ay = _ints(pc.utf8_trim_whitespace(_fill(g["ayear"])))
        use = has_ay & ~has_py & ~has_my & (ay >= 2000) & (ay < 2100)
        y = np.where(use, ay, y)
        unused = has_ay & ~use
    ok = kept & _calendar_ok(y, mo, d, hh, mi, ss, ss_max=60)
    return kept, np.where(ok, _epoch_us(y, mo, d, hh, mi, ss), recv_us), unused


def _after_ts(g: dict, unused: np.ndarray) -> pa.Array:
    """The text after a kept 3164 timestamp. An unused after-time year
    goes back into it (the C's pointer stays put, datetime.c:752-753):
    the year text, then the colon, then a space and the rest."""
    rest = _fill(g["rest"])
    if not unused.any():
        return rest
    back = pc.binary_join_element_wise(
        pc.utf8_slice_codeunits(_fill(g["ayear"]), 1), _fill(g["xcolon"]),
        " ", rest, "",
    )
    return pc.if_else(pa.array(unused), back, rest)


_RE_LASTMSG = r"(?i)^ *last message repeated \d+ times$"

# PARSED_STRUCT column -> arrow type (timereported travels as epoch µs)
_OUT_TYPES = {
    "protocol_version": pa.int32(),
    "timestamp_text": pa.string(),
    "hostname": pa.string(),
    "syslogtag": pa.string(),
    "app_name": pa.string(),
    "procid": pa.string(),
    "msgid": pa.string(),
    "structured_data": pa.string(),
    "msg": pa.string(),
    "parse_success": pa.bool_(),
    "parser": pa.string(),
    "timereported": pa.timestamp("us"),
}


def _rows(cols: dict, keep: np.ndarray) -> dict:
    """``cols`` cut to the rows ``keep`` marks: arrays are filtered,
    constants stay."""
    if keep.all():
        return cols
    mask = pa.array(keep)
    return {
        k: v.filter(mask) if isinstance(v, pa.Array)
        else v[keep] if isinstance(v, np.ndarray) else v
        for k, v in cols.items()
    }


def _lastmsg(r: dict, require_header: bool) -> tuple[np.ndarray, dict]:
    """pmlastmsg (pmlastmsg.c:90-130): accepts exactly 'last message
    repeated N times' after optional spaces, case-insensitive; legacy
    protocol, TS = received time, MSG = the whole after-PRI text, TAG
    ''."""
    own = _np(pc.match_substring_regex(r["s"], _RE_LASTMSG))
    o = _rows(r, own)
    return own, {
        "protocol_version": 0,
        "hostname": o["fromhost"],
        "syslogtag": "",
        "msg": o["s"],
        "parse_success": True,
        "parser": "lastmsg",
        "timereported": o["recv_us"],
    }


def _rfc5424(r: dict, require_header: bool) -> tuple[np.ndarray, dict]:
    """pmrfc5424: the '1 ' version guard is the accept decision
    (pmrfc5424.c:224-226); an owned row whose header does not match
    keeps '-' fields and MSG = the text after the guard."""
    own = _np(pc.starts_with(r["s"], "1 "))
    o = _rows(r, own)
    s, recv_us = o["s"], o["recv_us"]
    g5 = _extract(s, _RE_5424)
    ok = g5["_ok"]
    dash = pa.scalar("-", pa.string())

    def field(name):
        return pc.if_else(ok, _fill(g5[name]), dash)

    ts_txt = field("ts")
    app = field("app")
    procid = field("procid")
    tag = pc.if_else(
        pc.equal(procid, dash),
        app,
        pc.binary_join_element_wise(app, "[", procid, "]", ""),
    )
    gt = _extract(ts_txt, _RE_TS3339)
    return own, {
        "protocol_version": 1,
        "timestamp_text": ts_txt,
        "hostname": field("host"),
        "syslogtag": tag,
        "app_name": app,
        "procid": procid,
        "msgid": field("msgid"),
        "structured_data": field("sd"),
        "msg": pc.if_else(
            ok, _fill(g5["msg"]), pc.utf8_slice_codeunits(s, 2, 2**30)
        ),
        "parse_success": True,
        "parser": "rfc5424",
        "timereported": _ts3339_us(gt, recv_us, _np(gt["_ok"])),
    }


def _rfc3164(
    r: dict, require_header: bool, opts: Pm3164Options = Pm3164Options()
) -> tuple[np.ndarray, dict]:
    """pmrfc3164 with the instance options ``opts`` (all off in the
    default chain). It accepts every row, except that with
    ``require_header`` it declines a row with no PRI, no timestamp and
    no headerless shape."""
    s, fromhost, recv_us = r["s"], r["fromhost"], r["recv_us"]
    fac_invld = pc.equal(r["facility"], 24)
    headerless = pc.and_(
        pc.invert(fac_invld),
        pc.match_substring_regex(s, r"^[ \t]*[\{\[]"),
    )
    noheader = pc.or_(fac_invld, headerless)
    header = pc.invert(noheader)

    # timestamp cascade: 3339, then 3164, then the HP-Procurve retry
    # with a leading space, each on the rows the steps before missed
    g39 = _extract(s, _RE_TS3339_HEAD)
    ok39 = g39["_ok"]
    rest1 = pc.if_else(ok39, _fill(g39["rest"]), s)
    ayear = opts.detect_year_after_timestamp
    g64 = _extract(rest1, _ts3164_re_ext(False, ayear))
    kept64, us64, unused64 = _ts3164(g64, recv_us)
    ok64 = pc.and_(pa.array(kept64), pc.invert(ok39))
    rest2 = pc.if_else(ok64, _after_ts(g64, unused64), rest1)
    ghp = _extract(rest2, _ts3164_re_ext(True, ayear))
    kepthp, ushp, unusedhp = _ts3164(ghp, recv_us)
    okhp = pc.and_(pa.array(kepthp), pc.invert(pc.or_(ok39, ok64)))
    rest3 = pc.if_else(okhp, _after_ts(ghp, unusedhp), rest2)

    # hostname: one alternation branch matches at most; none -> fromhost
    gh = _extract(rest3, _host_re_ext(opts))
    host, rest4 = fromhost, rest3
    for full, sp, after in (("hfull", "hsp", "hrest"),
                            ("bfull", "bsp", "brest")):
        if full in gh:
            f, p = _nz(gh[full]), _nz(gh[sp])
            host = pc.if_else(
                f, _fill(gh[full]), pc.if_else(p, _fill(gh[sp]), host)
            )
            rest4 = pc.if_else(
                f, _EMPTY, pc.if_else(p, _fill(gh[after]), rest4)
            )

    gt = _extract(rest4, _RE_TAG)
    colon = _fill(gt["colon"])
    tag = pc.binary_join_element_wise(_fill(gt["tag"]), colon, "")
    msg = _fill(gt["mrest"])
    if opts.force_tag_ending_by_colon:
        # pmrfc3164.c:350-360: a TAG not ended by ':' becomes '-', and
        # p2parse -= (i+1) returns the scan text to MSG with the char
        # before it: the delimiter the previous stage consumed, or '>'
        # of the PRI when nothing was consumed (with no PRI the C reads
        # outside the buffer; modeled as ''). Only these rows leave Arrow.
        forced = pc.and_(header, pc.equal(colon, _EMPTY))
        fi = np.flatnonzero(_np(forced))
        if len(fi):
            texts, rests, pris = (
                a.take(fi).to_pylist() for a in (s, rest4, r["has_pri"])
            )
            msg = pc.replace_with_mask(msg, forced, pa.array([
                (t[k - 1] if (k := len(t) - len(x)) > 0
                 else ">" if hp else "") + x
                for t, x, hp in zip(texts, rests, pris)
            ], pa.string()))
            tag = pc.if_else(forced, pa.scalar("-"), tag)
    # headerless/invalid-PRI rows: whole text is MSG (pmrfc3164.c:190-205)
    msg = pc.if_else(noheader, s, msg)
    tag = pc.if_else(noheader, _EMPTY, tag)
    host = pc.if_else(noheader, fromhost, host)
    if opts.remove_msg_first_space:
        # finalize_it (:375-380) runs on every path, headerless included
        msg = pc.replace_substring_regex(msg, "^ ", "", max_replacements=1)

    # timestamp text (a stated year is not part of it) + value
    ts64_txt = pc.binary_join_element_wise(
        _fill(g64["mon"]), " ", _fill(g64["day"]), " ",
        _fill(g64["h"]), ":", _fill(g64["mi"]), ":", _fill(g64["s"]), "",
    )
    tshp_txt = pc.binary_join_element_wise(
        _fill(ghp["mon"]), " ", _fill(ghp["day"]), " ",
        _fill(ghp["h"]), ":", _fill(ghp["mi"]), ":", _fill(ghp["s"]), "",
    )
    use39 = pc.and_(ok39, header)
    use64 = pc.and_(ok64, header)
    usehp = pc.and_(okhp, header)
    ts_txt = pc.if_else(
        use39, _fill(g39["all"]),
        pc.if_else(use64, ts64_txt, pc.if_else(
            usehp, tshp_txt, pa.nulls(len(s), pa.string()))),
    )
    np39 = _np(use39)
    us39 = _ts3339_us(g39, recv_us, np39)
    ts_us = np.where(np39, us39, np.where(_np(use64), us64,
                     np.where(_np(usehp), ushp, recv_us)))

    acc = np.ones(len(s), dtype=bool)
    if require_header:
        acc = _np(pc.or_(
            pc.or_(noheader, r["has_pri"]), pc.or_(ok39, pc.or_(ok64, okhp))
        ))
    # no APP-NAME/PROCID/MSGID/SD fields: null at chain level; the
    # legacy TAG-based PROCID emulation (msg.c:1495-1542) runs natively
    # after the chain
    return acc, _rows({
        "protocol_version": 0,
        "timestamp_text": ts_txt,
        "hostname": host,
        "syslogtag": tag,
        "msg": msg,
        "parse_success": True,
        "parser": "rfc3164",
        "timereported": ts_us,
    }, acc)


_STEPS = {"lastmsg": _lastmsg, "rfc5424": _rfc5424, "rfc3164": _rfc3164}


def check_parsers(parsers) -> tuple[str, ...]:
    """``parsers`` as a tuple; ValueError on an unknown parser name."""
    bad = [p for p in parsers if p not in _STEPS]
    if bad:
        raise ValueError(f"unknown parser(s) {bad}; known: {list(_STEPS)}")
    return tuple(parsers)


def _column(value, n: int, typ: pa.DataType) -> pa.Array:
    """A part's field as an arrow array: arrays pass through, numpy
    epoch µs is wrapped (NaN, a null reception time, as null), a
    constant (None for a field the part does not set) is repeated ``n``
    times."""
    if isinstance(value, pa.Array):
        return value
    if isinstance(value, np.ndarray):
        return pa.array(value, pa.int64(), from_pandas=True).cast(typ)
    return pa.repeat(pa.scalar(value, typ), n)


def parse_chain_arrow(
    after_pri: pa.Array,
    facility: pa.Array,
    recv_ts: pa.Array,
    fromhost: pa.Array,
    has_pri: pa.Array,
    parsers: tuple[str, ...] = ("rfc5424", "rfc3164"),
    require_header: bool = False,
    opts: Pm3164Options = Pm3164Options(),
) -> dict[str, pa.Array]:
    """The parser chain over arrow arrays; returns the PARSED_STRUCT
    columns in input row order.

    ``parsers`` is any order of any subset of lastmsg / rfc5424 /
    rfc3164; pmlastmsg belongs on top of the stack (pmlastmsg.c: 'should
    be placed on top'). ``require_header`` lets pmrfc3164 decline rows,
    an extension of this engine (see pm3164.py). ``opts`` are the
    pmrfc3164 instance options. A row a parser gives no hostname takes
    ``fromhost``, null included."""
    parsers = check_parsers(parsers)
    n = len(after_pri)
    rows = {
        "s": _fill(after_pri.cast(pa.string())),
        "facility": facility.cast(pa.int64()),
        "fromhost": fromhost.cast(pa.string()),
        "has_pri": pc.fill_null(has_pri.cast(pa.bool_()), False),
        "recv_us": _np(recv_ts.cast(pa.timestamp("us")).cast(pa.int64())),
        "at": np.arange(n),
    }
    # first parser that accepts a row owns it (parser.c:654-672); each
    # part is (row indices, that parser's columns for those rows)
    steps = {**_STEPS, "rfc3164": partial(_rfc3164, opts=opts)}
    parts = []
    for p in parsers:
        if not len(rows["at"]):
            break
        own, cols = steps[p](rows, require_header)
        parts.append((rows["at"][own], cols))
        rows = _rows(rows, ~own)
    # chain exhausted -> discard shape (parser.c:679-687): success
    # false, MSG = the whole text, the received host, TAG null
    parts.append((rows["at"], {
        "protocol_version": 0,
        "hostname": rows["fromhost"],
        "msg": rows["s"],
        "parse_success": False,
        "parser": "none",
        "timereported": rows["recv_us"],
    }))

    back = np.empty(n, dtype=np.int64)
    back[np.concatenate([idx for idx, _ in parts])] = np.arange(n)
    return {
        f: pa.concat_arrays(
            [_column(cols.get(f), len(idx), typ) for idx, cols in parts]
        ).take(back)
        for f, typ in _OUT_TYPES.items()
    }
