"""Property-based differential test: arrow chain vs pandas reference.

The pandas chain (`parse_reference.parse_chain_pd`, whose 3164 step is
the options-off pmrfc3164 instance parser) is the readable reference;
the arrow chain is the one runtime. They must agree FIELD-FOR-FIELD on
arbitrary sanitized inputs and every parser order, not just the corpus
classes — hypothesis drives structured header fragments, year forms
and junk through both (the differential analog of the reference's
testbench fuzzing its parsers with tcpflood variants)."""

from __future__ import annotations

from itertools import permutations

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parse_reference import parse_3164_opts, parse_chain_pd
from rsyslog_spark.parse.arrow_chain import parse_chain_arrow
from rsyslog_spark.parse.chain import _FIELDS
from rsyslog_spark.parse.pm3164 import Pm3164Options

_PRINTABLE = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    max_size=40,
)
_MON = st.sampled_from(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
     "Jul", "Aug", "Sep", "Oct", "Nov", "Dec", "Xxx"]
)


@st.composite
def _msg3164(draw):
    mon = draw(_MON)
    day = draw(st.integers(1, 31))
    h, m, s = (draw(st.integers(0, 24)), draw(st.integers(0, 60)),
               draw(st.integers(0, 61)))
    host = draw(st.sampled_from(["host1", "h", "a.b.c", ""]))
    tag = draw(st.sampled_from(["app", "app[12]", "x:", ""]))
    body = draw(_PRINTABLE)
    sp = draw(st.sampled_from([" ", "  "]))
    return f"{mon} {day:2d} {h:02d}:{m:02d}:{s:02d}{sp}{host} {tag} {body}"


@st.composite
def _msg5424(draw):
    ts = draw(st.sampled_from([
        "2024-01-05T10:00:00Z", "2024-01-05T10:00:00.5+02:00",
        "2024-13-05T10:00:00Z", "-", "junk",
    ]))
    sd = draw(st.sampled_from(["-", '[x@1 k="v"]', "[a][b]"]))
    body = draw(_PRINTABLE)
    return f"1 {ts} host app 12 ID7 {sd} {body}"


# ParseTIMESTAMP3164's year forms (datetime.c:497-507 prepended,
# :678-690 in the hour position, :761-768 the tolerated ':'), with the
# range edges, both forms at once, an int64-overflowing prefix, a
# leading zero and the HP retry's leading space
_YEAR = st.sampled_from([
    "1969", "1970", "1971", "2025", "2099", "2100", "2101", "0000",
    "02024", "12345678901234567890123",
])


@st.composite
def _msg3164_year(draw):
    day = draw(st.sampled_from([" 5", "29", "31"]))
    mon = draw(st.sampled_from(["Jan", "Feb"]))
    pyear = draw(st.sampled_from(["", draw(_YEAR) + " "]))
    myear = draw(st.sampled_from(["", " " + draw(_YEAR)[:4]]))
    lead = draw(st.sampled_from(["", " "]))
    colon = draw(st.sampled_from(["", ":"]))
    hms = draw(st.sampled_from(["10:00:00", "24:00:00", "10:60:00",
                                "23:59:60"]))
    rest = draw(st.sampled_from([" host app: x", "", " app[1]: m"]))
    return f"{lead}{pyear}{mon} {day}{myear} {hms}{colon}{rest}"


_ANY = st.one_of(
    _PRINTABLE,
    _msg3164(),
    _msg3164_year(),
    _msg5424(),
    st.sampled_from([
        "", "1 ", "1", "{\"k\":1}", "[stuff",
        "last message repeated 3 times",
        "  last message repeated 12 TIMES",
        "Jan  1 99:99:99 host app: x",
        "Feb 31 10:00:00 host app: x",
        "Feb 29 10:00:00 host app: x",   # 2024 IS a leap year
        "Jan 32 10:00:00 host app: x",
        "Jan  1 23:59:60 host app: x",   # leap second rolls
        "1 2024-01-05T10:00:00+99:00 h a 1 I - x",
        "Jan  1 24:00:00 host app: x",
        "Jan  1 10:60:00 host app: x",
        "Jan  5 2026 10:00:00 host app: x",
        "2025 Jan  5 10:00:00 host app: x",
        "Jan  5 10:00:00: host app: x",
        "12345678901234567890123 Jan  5 10:00:00 host app: x",
        "2025 Jan  5 2026 10:00:00 host app: x",
        " 2025 Jan  5 10:00:00 host app: x",
        "Feb 29 2100 10:00:00 host app: x",
    ]),
)


_STOCK = ("rfc5424", "rfc3164")
_LASTMSG_CHAIN = ("lastmsg", *_STOCK)


def _run_both(texts, require_header, parsers=_STOCK):
    n = len(texts)
    recv = pd.Series(pd.to_datetime(["2024-06-01 12:00:00"] * n))
    fac = pd.Series([3] * n)
    fromhost = pd.Series([""] * n)
    has_pri = pd.Series([True if i % 2 else False for i in range(n)])
    pd_out = parse_chain_pd(
        pd.Series(texts), fac, recv, fromhost, has_pri,
        parsers=parsers, require_header=require_header,
    )
    ar_out = parse_chain_arrow(
        pa.array(texts, pa.string()),
        pa.array([3] * n, pa.int64()),
        pa.array(recv, pa.timestamp("us")),
        pa.array([""] * n, pa.string()),
        pa.array(list(has_pri), pa.bool_()),
        parsers=parsers,
        require_header=require_header,
    )
    return pd_out, ar_out


def _assert_equal(pd_out, ar_out, texts):
    for f in _FIELDS:
        a = ar_out[f].to_pandas()
        b = pd_out[f].reset_index(drop=True)
        if f == "timereported":
            a = pd.to_datetime(a)
            b = pd.to_datetime(b)
            same = (a == b) | (a.isna() & b.isna())
        else:
            astr = a.astype("object").where(~pd.isna(a), None)
            bstr = b.astype("object").where(~pd.isna(b), None)
            # '' vs None: the engines may differ in empty-string vs
            # null ONLY for never-rendered optional fields — normalize
            norm = lambda s: s.map(  # noqa: E731
                lambda x: None if x in (None, "") else x
            )
            same = norm(astr).eq(norm(bstr)) | (
                norm(astr).isna() & norm(bstr).isna()
            )
        bad = [i for i, ok in enumerate(same) if not ok]
        assert not bad, (
            f"field {f} differs at rows {bad[:3]}: "
            + "; ".join(
                f"text={texts[i]!r} arrow={a.iloc[i]!r} pandas={b.iloc[i]!r}"
                for i in bad[:3]
            )
        )


@pytest.mark.parametrize("require_header", [False, True])
@given(texts=st.lists(_ANY, min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_chain_differential(require_header, texts):
    pd_out, ar_out = _run_both(texts, require_header)
    _assert_equal(pd_out, ar_out, texts)


@given(texts=st.lists(_ANY, min_size=1, max_size=12))
@settings(max_examples=30, deadline=None)
def test_chain_differential_lastmsg(texts):
    pd_out, ar_out = _run_both(texts, False, _LASTMSG_CHAIN)
    _assert_equal(pd_out, ar_out, texts)


_LASTMSG = st.builds(
    lambda sp, k, word: f"{sp}last message repeated {k} {word}",
    st.sampled_from(["", " ", "  "]), st.integers(0, 999),
    st.sampled_from(["times", "TIMES", "time"]),
)
# batches one parser (or none) owns entirely, next to mixed ones
_BATCHES = st.one_of(
    st.lists(_msg5424(), min_size=1, max_size=12),
    st.lists(_msg3164(), min_size=1, max_size=12),
    st.lists(_LASTMSG, min_size=1, max_size=12),
    st.lists(st.one_of(_ANY, _LASTMSG), min_size=1, max_size=12),
)


@pytest.mark.parametrize("with_lastmsg", [False, True])
@pytest.mark.parametrize("require_header", [False, True])
@given(texts=_BATCHES)
@settings(max_examples=40, deadline=None)
def test_chain_differential_owned_rows(require_header, with_lastmsg, texts):
    pd_out, ar_out = _run_both(
        texts, require_header, _LASTMSG_CHAIN if with_lastmsg else _STOCK)
    _assert_equal(pd_out, ar_out, texts)


_ORDERS = [o for k in (1, 2, 3)
           for o in permutations(("lastmsg", "rfc5424", "rfc3164"), k)]


@pytest.mark.parametrize("require_header", [False, True])
@pytest.mark.parametrize("parsers", _ORDERS, ids="-".join)
@given(texts=st.lists(st.one_of(_ANY, _LASTMSG), min_size=1, max_size=12))
@settings(max_examples=15, deadline=None)
def test_chain_differential_every_order(parsers, require_header, texts):
    pd_out, ar_out = _run_both(texts, require_header, parsers)
    _assert_equal(pd_out, ar_out, texts)


@pytest.mark.parametrize("require_header", [False, True])
@given(texts=st.lists(_msg3164_year(), min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_chain_differential_year_forms(require_header, texts):
    pd_out, ar_out = _run_both(texts, require_header)
    _assert_equal(pd_out, ar_out, texts)


# every one of the 64 pmrfc3164 option combinations (pmrfc3164.c:63-70)
_OPTS = st.builds(Pm3164Options, *[st.booleans()] * 6)
# hostname, TAG and after-time-year shapes the options act on
_OPT_FRAGMENTS = st.sampled_from([
    "Mar 10 01:00:00 [192.168.0.1] tag: x",
    "Mar 10 01:00:00 [192.168.0.1]",
    "Mar 10 01:00:00 [10.0.0.1 tag: x",
    "Mar 10 01:00:00 [] tag: x",
    "Mar 10 01:00:00 [a@b/c] tag: x",
    "Mar 10 01:00:00 Hostn@me2 tag:  msgnum:2",
    "Mar 10 01:00:00 h@ tag: x",
    "Mar 10 01:00:00 @",
    "Mar  6 16:57:54 hostname1/hostname2 test: msgnum:0",
    "Mar 10 01:00:00 Hostname3 tag3 msgnum:3",
    "Mar 10 01:00:00 Hostname4 tag4 :",
    "Mar 10 01:00:00 host notag",
    "Mar 10 01:00:00 h tag:  two spaces",
    "Mar 10 01:00:00 2025 h tag: c",
    "Mar 10 01:00:00 1999 h tag: d",
    "Mar 10 01:00:00 2025x h tag: e",
    "Mar 10 01:00:00 2025: h tag: f",
    "Mar 10 01:00:00 1999: h tag: f",
    "Mar 10 01:00:00 2025",
    "Mar 10 01:00:00 1999",
    "Mar 10 01:00:00 1999:",
    "Mar 10 2022 01:00:00 2025 h tag: g",
    "2021 Mar 10 01:00:00 2099 h tag",
    " Mar 10 01:00:00 2100 h tag: x",
    "tag5 msg", "notag", " lead", "  two", ":", " ", "{\"k\": 1}", " [x] y",
])


@given(
    opts=_OPTS,
    texts=st.builds(
        lambda a, b: a + b,
        st.lists(_ANY, max_size=6),
        st.lists(_OPT_FRAGMENTS, min_size=1, max_size=6),
    ),
)
@settings(max_examples=150, deadline=None)
def test_options_differential(opts, texts):
    """The Arrow step with instance options equals the pandas instance
    parser, with a received host and half the rows carrying a PRI (one
    in five has an invalid facility)."""
    n = len(texts)
    recv = pd.Series(pd.to_datetime(["2024-06-01 12:00:00"] * n))
    fac = [24 if i % 5 == 4 else 3 for i in range(n)]
    has_pri = [i % 2 == 1 for i in range(n)]
    ref = parse_3164_opts(
        pd.Series(texts), pd.Series(fac), recv, opts,
        fromhost=pd.Series(["relay1"] * n), has_pri=pd.Series(has_pri),
    ).assign(parse_success=True, parser="rfc3164")
    got = parse_chain_arrow(
        pa.array(texts, pa.string()),
        pa.array(fac, pa.int64()),
        pa.array(recv, pa.timestamp("us")),
        pa.array(["relay1"] * n, pa.string()),
        pa.array(has_pri, pa.bool_()),
        parsers=("rfc3164",),
        opts=opts,
    )
    _assert_equal(ref, got, texts)
