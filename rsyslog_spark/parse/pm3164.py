"""Legacy RFC3164 parser, vectorized (reference: tools/pmrfc3164.c, 418 LoC).

Replicated control flow (pmrfc3164.c:180-382):

1. facility == LOG_FAC_INVLD (invalid PRI) -> do not parse a header at
   all; the whole text is MSG (pmrfc3164.c:190-193).
2. headerless detection: optional spaces/tabs then '{' or '[' -> whole
   text is MSG, hostname falls back to ``fromhost``, empty TAG
   (pmrfc3164.c:195-205).
3. timestamp: RFC3339 first, then RFC3164 ``Mmm [d]d hh:mm:ss``, then the
   HP-Procurve retry (leading space + RFC3164) (pmrfc3164.c:208-235).
   The timestamp parser consumes the timestamp plus one trailing SP
   delimiter (runtime/datetime.c ParseTIMESTAMP3164/3339 behavior).
4. hostname: char-walk over [A-Za-z0-9._-]; it is a hostname iff
   (a) it consumed the entire remainder, or (b) >=1 char was consumed AND
   the last consumed char is alphanumeric AND the next char is SP
   (pmrfc3164.c:267-325). Otherwise no hostname (-> ``fromhost``) and the
   same text is re-scanned as TAG. Because the char-walk is maximal-munch
   over one character class, both cases are exactly expressible as
   anchored regexes (a shorter match cannot be followed by SP, so greedy
   regex == C walk).
5. TAG: chars up to ':' or SP; a ':' is part of the TAG and consumed;
   an SP is NOT consumed — it stays in MSG ("a SP ... is CONTENT",
   pmrfc3164.c:327-366).
6. MSG: the rest.

RFC3164 timestamps carry no year: the year comes from reception time with
Dec/Jan boundary correction (runtime/datetime.c:465 ff.; same rule as
estimateYear, grammar/rainerscript.c:2620-2633).

Options (pmrfc3164.c:63-70) default off. The default chain is the
instance parser with every option off (``Pm3164Options()``,
pmrfc3164.c:104-110), run by ``arrow_chain.parse_chain_arrow``;
``parser(type="pmrfc3164" ...)`` instances run ``parse_3164_opts`` with
the full option set via ``Pm3164Options``:

- permit.squareBracketsInHostname / permit.slashesInHostname /
  permit.AtSignsInHostname — hostname char-walk extensions
  (pmrfc3164.c:267-325; e2e goldens pmrfc3164-AtSignsInHostname(_off),
  hostname-with-slash-pmrfc3164.sh);
- force.tagEndingByColon — a TAG not ended by ':' becomes '-' and the
  scan text returns to MSG with the C's exact ``p2parse -= (i+1)``
  restore (one char PAST the TAG start — the pre-TAG delimiter char
  re-enters MSG, pmrfc3164.c:350-360; e2e pmrfc3164-tagEndingByColon);
- remove.msgFirstSpace — one leading MSG space dropped at finalize, on
  EVERY path including headerless/invalid-facility early-FINALIZE
  (pmrfc3164.c:375-380; e2e pmrfc3164-msgFirstSpace);
- detect.YearAfterTimestamp — ``Mmm dd hh:mm:ss YYYY`` with
  2000<=YYYY<2100 followed by SP-or-end (datetime.c:744-759).

Both model ParseTIMESTAMP3164's UNGATED year forms (datetime.c:497-507
prepended ``YYYY Mmm dd ...`` for 1970..2100, :678-690
year-in-hour-position ``Mmm dd YYYY hh:mm:ss`` for 1971..2099) and the
tolerated extra ':' right after the timestamp (:761-768).

``require_header`` is an EXTENSION of the default chain (not in the
reference): when set, a message with neither a PRI ``<`` prefix nor a
parsable timestamp nor a headerless-JSON shape is REJECTED
(COULD_NOT_PARSE), so the chain's discard path (runtime/parser.c:
679-687) is exercisable; the stock reference pmrfc3164 never returns
COULD_NOT_PARSE.

``parse_3164_opts`` is pandas-vectorized (str.match / str.extract /
str.replace); no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from rsyslog_spark.parse import fastre
from rsyslog_spark.parse.pm5424 import _RE_TS3339, parse_ts3339

_MONTHS = "Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec"
_MONTH_NUM = {
    m: i + 1
    for i, m in enumerate(
        ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
         "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    )
}

_RE_TS3339_BODY = _RE_TS3339[1:-1]  # strip ^ $ anchors
_RE_TS3339_HEAD = rf"^(?P<all>{_RE_TS3339_BODY})(?:$| (?P<rest>[\s\S]*)$)"

# hostname heuristic as ONE alternation (see point 4 above): entire
# remainder is host, OR host with alnum last char followed by SP.
_RE_HOST = (
    r"^(?:(?P<hfull>[A-Za-z0-9._-]+)$"
    r"|(?P<hsp>[A-Za-z0-9._-]*[A-Za-z0-9]) (?P<hrest>[\s\S]*)$)"
)

# TAG up to ':' (consumed, kept in TAG) or SP (not consumed -> MSG)
_RE_TAG = r"^(?P<tag>[^: ]*)(?P<colon>:?)(?P<mrest>[\s\S]*)$"


from dataclasses import dataclass


@dataclass(frozen=True)
class Pm3164Options:
    """parser(type="pmrfc3164") instance options (pmrfc3164.c:63-70).
    All default off, exactly like setInstParamDefaults (:104-110)."""
    detect_year_after_timestamp: bool = False
    permit_square_brackets_in_hostname: bool = False
    permit_slashes_in_hostname: bool = False
    permit_at_signs_in_hostname: bool = False
    force_tag_ending_by_colon: bool = False
    remove_msg_first_space: bool = False


def _ts3164_re_ext(hp: bool, detect_year_after: bool) -> str:
    """Instance-path 3164 timestamp regex: the default shape plus the
    ungated year forms + tolerated-colon of ParseTIMESTAMP3164.

    Group semantics (validated/fixed up in pandas after extraction):
    ``pyear`` = digits before the month (datetime.c:497-507, any digit
    run — range-checked 1970..2100, invalid -> whole match void);
    ``myear`` = 4 digits in the hour position (:678-690, 1971..2099,
    void if pyear also present); ``ayear``/``xcolon`` = optional
    ``SP YYYY`` after the time + the tolerated ':' (:744-768) — the
    regex's own tail (``:`` / SP / end) enforces the C's
    followed-by-space-or-end gate without lookahead (fastre/RE2 has
    none)."""
    ayear = r"(?P<ayear> \d{4})?" if detect_year_after else ""
    return (
        ("^ " if hp else "^")
        + r"(?:(?P<pyear>\d+) )?"
        + rf"(?P<mon>{_MONTHS}) (?P<day> ?\d|\d\d)"
        + r"(?: (?P<myear>\d{4}))?"
        + r" (?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})"
        + ayear
        + r"(?P<xcolon>:?)"
        + r"(?:$| (?P<rest>[\s\S]*)$)"
    )


def _host_re_ext(opts: Pm3164Options) -> str:
    """Instance-path hostname heuristic with the option-extended char
    class (pmrfc3164.c:278-284) and the square-bracket walk
    (:270-324). Bracket branches first (the C checks '[' before the
    main walk): ``bfull`` = '[' + chars consuming the whole remainder
    (no ']' seen — the break/append path never ran, :291-298);
    ``bsp`` = '[' chars ']' SP (first ']' appended by the else branch,
    next char must be SP, :302-314; 1+ inner chars — an empty '[]'
    fails the C's post-loop checks)."""
    cls = "A-Za-z0-9._\\-"
    if opts.permit_at_signs_in_hostname:
        cls += "@"
    if opts.permit_slashes_in_hostname:
        cls += "/"
    alts = []
    if opts.permit_square_brackets_in_hostname:
        alts += [
            rf"(?P<bfull>\[[{cls}]*)$",
            rf"(?P<bsp>\[[{cls}]+\]) (?P<brest>[\s\S]*)$",
        ]
    alts += [
        rf"(?P<hfull>[{cls}]+)$",
        rf"(?P<hsp>[{cls}]*[A-Za-z0-9]) (?P<hrest>[\s\S]*)$",
    ]
    return "^(?:" + "|".join(alts) + ")"


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
    (see module docstring). Always accepts (the stock module never
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
    headerless = ~fac_invld & fastre.matches(s, r"^[ \t]*[\{\[]")
    noheader = fac_invld | headerless
    msg[noheader] = s[noheader]

    rest = s[~noheader].copy()

    # timestamp cascade: 3339 -> extended 3164 -> HP retry
    g39 = fastre.extract(rest, _RE_TS3339_HEAD)
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
    g64 = fastre.extract(rest.loc[un], re_head)
    ok64 = _year_fixup(g64)
    _apply_3164(g64, ok64)

    unhp = g64.index[~ok64]
    if len(unhp):
        ghp = fastre.extract(rest.loc[unhp], re_hp)
        okhp = _year_fixup(ghp)
        _apply_3164(ghp, okhp)

    # hostname heuristic with the option-extended class
    gh = fastre.extract(rest, _host_re_ext(opts))
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
    gt = fastre.extract(rest, _RE_TAG)
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

