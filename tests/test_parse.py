"""Golden tests for the parser chain, derived by hand from the C logic
(tools/pmrfc3164.c, tools/pmrfc5424.c, runtime/parser.c) — the reference
test style is golden end-to-end checks (tests/rscript_*.sh, seq_check)."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rsyslog_spark.parse import with_parsed
from rsyslog_spark.parse.arrow_chain import parse_chain_arrow


RECV = pd.Timestamp("2024-06-15 12:00:00")


def chain(texts, fac, recv, fromhost, has_pri, require_header=False):
    """parse_chain_arrow over Python lists -> {field: list}."""
    out = parse_chain_arrow(
        pa.array(texts, pa.string()),
        pa.array(fac, pa.int64()),
        pa.array(recv, pa.timestamp("us")),
        pa.array(fromhost, pa.string()),
        pa.array(has_pri, pa.bool_()),
        require_header=require_header,
    )
    return {k: v.to_pylist() for k, v in out.items()}


def run(text, fac=1, has_pri=True, require_header=False, recv=RECV):
    r = chain([text], [fac], [recv], ["rxhost"], [has_pri],
              require_header=require_header)
    return {k: v[0] for k, v in r.items()}


class TestRFC3164:
    def test_classic(self):
        r = run("Jan  5 10:01:02 host01 app[42]: hello")
        assert r["parser"] == "rfc3164"
        assert r["hostname"] == "host01"
        assert r["syslogtag"] == "app[42]:"
        assert r["msg"] == " hello"  # SP after ':' is MSG content
        assert r["timestamp_text"] == "Jan  5 10:01:02"
        assert r["timereported"] == pd.Timestamp("2024-01-05 10:01:02")

    def test_two_digit_day(self):
        r = run("Dec 25 23:59:59 h a: m")
        assert r["timereported"] == pd.Timestamp("2024-12-25 23:59:59")

    def test_tag_ends_at_space_keeps_space_in_msg(self):
        # "a SP is NOT part of the tag (it is CONTENT)" pmrfc3164.c:333
        r = run("Jan  5 10:00:00 host01 word rest")
        assert r["syslogtag"] == "word"
        assert r["msg"] == " rest"

    def test_no_hostname_when_tag_like(self):
        # 'app[42]:' stops walk at '[', last char alnum but next != ' '
        r = run("Jan  5 10:00:00 app[42]: m")
        assert r["hostname"] == "rxhost"  # falls back to fromhost
        assert r["syslogtag"] == "app[42]:"

    def test_hostname_trailing_dash_not_hostname(self):
        # last consumed char '-' is not alnum -> not a hostname
        r = run("Jan  5 10:00:00 abc-. rest")
        assert r["hostname"] == "rxhost"

    def test_hostname_consumes_entire_rest(self):
        r = run("Jan  5 10:00:00 onlyhost")
        assert r["hostname"] == "onlyhost"
        assert r["msg"] == ""

    def test_headerless_json(self):
        r = run('{"a":1}')
        assert r["msg"] == '{"a":1}'
        assert r["syslogtag"] == ""
        assert r["hostname"] == "rxhost"
        assert r["timereported"] == RECV

    def test_headerless_after_spaces(self):
        r = run('   [1,2]')
        assert r["msg"] == "   [1,2]"

    def test_invalid_facility_no_parse(self):
        # pmrfc3164.c:190-193: facility LOG_INVLD -> whole text is MSG
        r = run("<999 whatever", fac=24)
        assert r["msg"] == "<999 whatever"
        assert r["syslogtag"] == ""

    def test_no_timestamp_uses_recv(self):
        r = run("host01 app: m")
        assert r["timereported"] == RECV
        assert r["hostname"] == "host01"

    def test_hp_procurve_leading_space(self):
        r = run(" Jan  5 10:00:00 h a: m")
        assert r["timestamp_text"] == "Jan  5 10:00:00"
        assert r["hostname"] == "h"

    def test_rfc3339_in_legacy(self):
        r = run("2024-02-03T01:02:03+02:00 myhost app: x")
        assert r["timereported"] == pd.Timestamp("2024-02-02 23:02:03")
        assert r["hostname"] == "myhost"

    def test_year_rollover_dec_msg_jan_recv(self):
        r = run("Dec 31 23:00:00 h a: m", recv=pd.Timestamp("2025-01-01 00:05:00"))
        assert r["timereported"] == pd.Timestamp("2024-12-31 23:00:00")

    def test_year_rollover_jan_msg_dec_recv(self):
        r = run("Jan  1 00:00:05 h a: m", recv=pd.Timestamp("2024-12-31 23:59:00"))
        assert r["timereported"] == pd.Timestamp("2025-01-01 00:00:05")

    def test_require_header_rejects_garbage(self):
        r = run("garbage text", has_pri=False, require_header=True)
        assert r["parse_success"] is False or r["parse_success"] == False
        assert r["parser"] == "none"
        assert r["msg"] == "garbage text"

    def test_require_header_keeps_pri_rows(self):
        r = run("garbage text", has_pri=True, require_header=True)
        assert r["parse_success"]


class TestRFC5424:
    def test_full(self):
        r = run('1 2024-01-05T10:02:03.5Z h01 app 77 MID [x@1 a="b"] the msg')
        assert r["parser"] == "rfc5424"
        assert r["protocol_version"] == 1
        assert r["hostname"] == "h01"
        assert r["app_name"] == "app"
        assert r["procid"] == "77"
        assert r["msgid"] == "MID"
        assert r["structured_data"] == '[x@1 a="b"]'
        assert r["msg"] == "the msg"
        assert r["syslogtag"] == "app[77]"
        assert r["timereported"] == pd.Timestamp("2024-01-05 10:02:03.500")

    def test_nil_fields(self):
        r = run("1 - - - - - just msg")
        assert r["timestamp_text"] == "-"
        assert r["timereported"] == RECV
        assert r["syslogtag"] == "-"  # app '-', procid '-' -> bare app

    def test_nil_procid_tag(self):
        r = run("1 - host app - MID - m")
        assert r["syslogtag"] == "app"  # msg.c:2497-2500

    def test_sd_with_escaped_bracket(self):
        r = run(r'1 - h a p m [x@1 k="a\]b"] msg')
        assert r["structured_data"] == r'[x@1 k="a\]b"]'
        assert r["msg"] == "msg"

    def test_multiple_sd_elements(self):
        r = run('1 - h a p m [x@1 k="v"][y@2 j="w"] msg')
        assert r["structured_data"] == '[x@1 k="v"][y@2 j="w"]'

    def test_no_msg(self):
        r = run("1 - h a p m -")
        assert r["msg"] == ""
        assert r["structured_data"] == "-"

    def test_version_2_not_5424(self):
        r = run("2 2024-01-05T10:02:03Z h a p m - msg")
        assert r["parser"] == "rfc3164"

    def test_tz_offset_negative(self):
        r = run("1 2024-01-05T10:00:00-03:30 h a p m - x")
        assert r["timereported"] == pd.Timestamp("2024-01-05 13:30:00")


def _sanitize_reference(raw):
    """The JVM form of SanitizeMsg: Java regex strips and a chain of 33
    single-char replaces (0x00-0x1f and DEL). ``\\z`` is Java's end of
    input; its ``$`` also matches before a final line terminator."""
    s = F.regexp_replace(raw, "\\x00\\z", "")
    s = F.regexp_replace(s, "\\n\\z", "")
    for c in [*range(0x20), 0x7f]:
        s = F.replace(s, F.lit(chr(c)), F.lit("#%03o" % c))
    return F.when(raw.rlike("[\\x00-\\x1f\\x7f]"), s).otherwise(raw)


_CTRL_TEXT = st.text(
    alphabet=st.sampled_from(
        [chr(c) for c in [*range(0x20), 0x7f]] + list("ab #<>\u00e9")),
    max_size=12,
)


class TestSanitize:
    """with_sanitized runs the parse worker's Arrow SanitizeMsg."""

    def _san(self, spark, vals):
        from rsyslog_spark.parse.sanitize import with_sanitized

        df = spark.createDataFrame([(v,) for v in vals], "text string")
        return [r["rawmsg"] for r in with_sanitized(df).collect()]

    def test_sanitize_semantics(self, spark):
        got = self._san(
            spark,
            ["ab\x07cd", "a\tb", "hello\n", "a\nb\n", "plain text",
             "x\n\n", "x\x00\n", "x\n\x00", None],
        )
        # octal '#NNN' escapes (parser.c:528-534); ONE trailing NUL, then
        # ONE trailing LF dropped (parser.c:404-421), inner LF and NUL
        # escaped; clean untouched
        assert got == ["ab#007cd", "a#011b", "hello", "a#012b", "plain text",
                       "x#012", "x#000", "x", None]

    def test_sanitize_escapes_del(self, spark):
        # DEL is iscntrl() like 0x00-0x1f (parser.c:489-535): '#177'
        # wherever it sits, and it is not a trailing char to drop
        assert self._san(spark, ["a\x7fb", "\x7f", "x\x7f\n", "~\x80"]) == [
            "a#177b", "#177", "x#177", "~\x80"]

    @given(texts=st.lists(_CTRL_TEXT, min_size=1, max_size=30))
    @settings(max_examples=15, deadline=None)
    def test_matches_jvm_reference(self, spark, texts):
        from rsyslog_spark.parse.sanitize import with_sanitized

        df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
        rows = (
            with_sanitized(df)
            .withColumn("ref", _sanitize_reference(F.col("text")))
            .orderBy("i")
            .collect()
        )
        bad = [(r["text"], r["rawmsg"], r["ref"]) for r in rows
               if r["rawmsg"] != r["ref"]]
        assert not bad, bad[:3]


class TestChain:
    def test_order_5424_first(self):
        r = run("1 - h a p m - x")
        assert r["parser"] == "rfc5424"

    def test_fallthrough(self):
        r = run("Jan  5 10:00:00 h a: m")
        assert r["parser"] == "rfc3164"

    def test_batch_mixed(self):
        r = chain(
            ["1 - h a p m - x", "Jan  5 10:00:00 h a: m", "junk", ""],
            [1] * 4, [RECV] * 4, [""] * 4, [True, True, False, False],
            require_header=True,
        )
        assert r["parser"] == ["rfc5424", "rfc3164", "none", "none"]
        assert r["parse_success"] == [True, True, False, False]

    def test_unknown_parser_fails_before_any_job(self, spark):
        df = spark.createDataFrame(
            [(1, "<13>1 - h a p m - x", RECV.to_pydatetime())],
            "i int, text string, ts timestamp")
        sc = spark.sparkContext
        sc.setJobGroup("unknown-parser", "parser name check")
        try:
            with pytest.raises(ValueError, match="nope"):
                with_parsed(df, parsers=("rfc5424", "nope"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup("unknown-parser")) == []


class TestYearForms:
    """ParseTIMESTAMP3164's ungated year forms through with_parsed: the
    default chain's pmrfc3164 is the options-off instance parser, so a
    stated year is used (datetime.c:497-507 prepended, :678-690 in the
    hour position, :761-768 the tolerated ':' after the time) and an
    out-of-range one voids the timestamp."""

    GOLDEN = [
        ("<13>Jan  5 2026 10:00:00 host app: x",
         "host", "app:", " x", "2026-01-05 10:00:00"),
        ("<13>2025 Jan  5 10:00:00 host app: x",
         "host", "app:", " x", "2025-01-05 10:00:00"),
        ("<13>Jan  5 10:00:00: host app: x",
         "host", "app:", " x", "2024-01-05 10:00:00"),
        ("<13> 2025 Jan  5 10:00:00 host app: x",
         "host", "app:", " x", "2025-01-05 10:00:00"),
        # prepended 1969 is out of range: no timestamp, the year is
        # the hostname and the month the TAG
        ("<13>1969 Jan  5 10:00:00 host app: x",
         "1969", "Jan", "  5 10:00:00 host app: x", "2024-06-15 12:00:00"),
        # a prepended run too long for int64 is out of range too
        ("<13>12345678901234567890123 Jan  5 10:00:00 host app: x",
         "12345678901234567890123", "Jan", "  5 10:00:00 host app: x",
         "2024-06-15 12:00:00"),
        # both forms at once void the match (datetime.c:678-690)
        ("<13>2025 Jan  5 2026 10:00:00 host app: x",
         "2025", "Jan", "  5 2026 10:00:00 host app: x",
         "2024-06-15 12:00:00"),
        # the stated year makes Feb 29 a non-date: reception time
        ("<13>Feb 29 2023 10:00:00 host app: x",
         "host", "app:", " x", "2024-06-15 12:00:00"),
    ]

    def test_goldens_through_with_parsed(self, spark):
        df = spark.createDataFrame(
            [(i, g[0], RECV.to_pydatetime()) for i, g in enumerate(self.GOLDEN)],
            "i int, text string, ts timestamp",
        )
        rows = {r["i"]: r for r in with_parsed(df, require_header=True).collect()}
        for i, (_, host, tag, msg, ts) in enumerate(self.GOLDEN):
            r = rows[i]
            assert (r["parser"], r["hostname"], r["syslogtag"], r["msg"]) == (
                "rfc3164", host, tag, msg), self.GOLDEN[i][0]
            assert r["timereported"] == pd.Timestamp(ts), self.GOLDEN[i][0]
