"""zlib uncompress front door, pmlastmsg chain branch, dynstats cycles.

- uncompressMessage (runtime/parser.c:312-362): 'z'-prefixed records
  inflate; failures drop the message; oversize rejected (DoS guard)
- pmlastmsg (plugins/pmlastmsg/pmlastmsg.c:90-130): top-of-stack parser
- dynstats resettable/TTL (runtime/dynstats.c:36-43,249-264,489)
"""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from rsyslog_spark.agg import dyn_inc_windowed
from rsyslog_spark.parse import with_parsed
from rsyslog_spark.parse.uncompress import with_uncompressed


@pytest.fixture(scope="module")
def wire(spark):
    rows = [
        (1, b"<13>plain message one"),
        (2, b"z" + zlib.compress(b"<13>was compressed")),
        (3, b"z\x00garbage-not-zlib"),          # drop path
        (4, b"z" + zlib.compress(b"A" * 100000)),  # oversize -> drop
    ]
    return spark.createDataFrame(rows, "i int, raw binary")


class TestUncompress:
    def test_roundtrip_drop_and_bound(self, wire):
        out = with_uncompressed(wire, raw_col="raw", out_col="text",
                                max_len=8192)
        rows = {r["i"]: r["text"] for r in out.collect()}
        assert rows == {
            1: "<13>plain message one",
            2: "<13>was compressed",
        }

    def test_feeds_parse_chain(self, wire, spark):
        src = with_uncompressed(wire, raw_col="raw", out_col="text")
        src = src.withColumn("ts", F.lit("2024-01-05 10:00:00").cast("timestamp"))
        p = with_parsed(src)
        got = {r["i"]: (r["rawmsg"], r["pri"]) for r in p.collect()}
        # inflated bytes feed sanitize/PRI exactly like plain ones
        assert got[2] == ("<13>was compressed", 13)
        assert set(got) == {1, 2}


class TestPmLastMsg:
    def test_chain_branch_both_engines(self, spark):
        rows = [
            (1, "<13>last message repeated 5 times"),
            (2, "<13>  LAST Message Repeated 12 TIMES"),  # ci + spaces
            (3, "<13>last message repeated 5 times and more"),  # no accept
            (4, "<13>Jan  5 10:00:00 host app[1]: normal"),
        ]
        df = spark.createDataFrame(rows, "i int, text string").withColumn(
            "ts", F.lit("2024-01-05 10:00:00").cast("timestamp")
        )
        p = with_parsed(df, parsers=("lastmsg", "rfc5424", "rfc3164"))
        got = {r["i"]: (r["parser"], r["msg"], r["syslogtag"])
               for r in p.collect()}
        assert got[1] == ("lastmsg", "last message repeated 5 times", "")
        assert got[2][0] == "lastmsg"
        assert got[2][1] == "  LAST Message Repeated 12 TIMES"
        assert got[3][0] == "rfc3164"  # trailing text -> not ours
        assert got[4][0] == "rfc3164"


class TestUtf8Fix:
    def test_byte_level_rules(self):
        from rsyslog_spark.mods import utf8fix_bytes

        f = lambda b: utf8fix_bytes(b)  # noqa: E731
        assert f(b"plain ascii") == b"plain ascii"
        assert f("héllo".encode()) == "héllo".encode()  # valid 2-byte
        assert f(b"a\x80b") == b"a b"          # stray continuation
        assert f(b"a\xc0\xafb") == b"a  b"     # overlong 2-byte
        assert f(b"a\xed\xa0\x80b") == b"a   b"  # UTF-16 surrogate
        assert f(b"a\xf8\x88b") == b"a  b"     # forbidden 5-byte lead +
        #                                        stray continuation
        assert f(b"a\xe2\x82") == b"a  "       # truncated at end
        # broken continuation: lead wiped, breaking byte re-examined
        assert f(b"\xc3Abc") == b" Abc"
        assert utf8fix_bytes(b"a\x07b\xffc", mode="controlcharacters") \
            == b"a b c"

    def test_binary_column_and_string_identity(self, spark):
        from rsyslog_spark import mods

        bdf = spark.createDataFrame(
            [(1, b"ok \xc3\xa9"), (2, b"bad \x80\xff")], "i int, msg binary"
        )
        out = {r["i"]: bytes(r["msg"])
               for r in mods.mm_utf8fix(bdf).collect()}
        assert out[1] == b"ok \xc3\xa9" and out[2] == b"bad   "
        sdf = spark.createDataFrame([(1, "fine")], "i int, msg string")
        assert mods.mm_utf8fix(sdf) is sdf  # string: identity


class TestDynstatsCycles:
    @pytest.fixture(scope="class")
    def events(self, spark):
        # key 'a': bursts at t=0..2 and t=4000..4002 (gap > TTL);
        # key 'b': steady every 500 s
        rows = [("a", t) for t in (0, 1, 2, 4000, 4001, 4002)]
        rows += [("b", t) for t in range(0, 4500, 500)]
        return spark.createDataFrame(rows, "k string, sec long").withColumn(
            "ts", F.col("sec").cast("timestamp")
        )

    def test_resettable_per_window(self, events):
        out = dyn_inc_windowed(events, "x", "k", interval_s=600,
                               resettable=True)
        got = {(r["key"], r["window_start"].timestamp()): r["count"]
               for r in out.collect()}
        assert got[("a", 0.0)] == 3 and got[("a", 3600.0)] == 3
        assert got[("b", 0.0)] == 2  # t=0,500

    def test_ttl_purge_restarts_counter(self, events):
        out = dyn_inc_windowed(events, "x", "k", interval_s=600,
                               resettable=False,
                               unused_metric_life_s=1200)
        a = {r["window_start"].timestamp(): r["count"]
             for r in out.filter("key = 'a'").collect()}
        # gap 0 -> 3600 s is 6 windows > TTL(2 windows): purged, fresh 3
        assert a == {0.0: 3, 3600.0: 3}
        b = {r["window_start"].timestamp(): r["count"]
             for r in out.filter("key = 'b'").collect()}
        # 'b' never idle > TTL: cumulative counts keep growing
        assert b[0.0] == 2 and b[3600.0] == 9 and max(b.values()) == 9

    def test_no_ttl_accumulates(self, events):
        out = dyn_inc_windowed(events, "x", "k", interval_s=600,
                               resettable=False)
        a = {r["window_start"].timestamp(): r["count"]
             for r in out.filter("key = 'a'").collect()}
        assert a == {0.0: 3, 3600.0: 6}  # no purge: keeps counting


class TestKafkaTransform:
    def test_records_to_messages_and_parse(self, spark):
        import zlib

        from rsyslog_spark.sources.kafka import (
            KAFKA_SCHEMA,
            kafka_records_to_messages,
        )

        rows = [
            (None, b"<13>Jan  5 10:00:00 h app[1]: msgnum:1", "t", 0, 0,
             "2024-01-05 10:00:00", 0),
            (None, b"z" + zlib.compress(b"<14>compressed record"), "t", 0,
             1, "2024-01-05 10:00:01", 0),
            (None, b"plain", "t", 1, 0, "2024-01-05 10:00:02", 0),
        ]
        rec = spark.createDataFrame(
            rows,
            "key binary, value binary, topic string, partition int, "
            "offset long, ts_s string, timestampType int",
        ).select(
            "key", "value", "topic", "partition", "offset",
            F.col("ts_s").cast("timestamp").alias("timestamp"),
            "timestampType",
        )
        msgs = kafka_records_to_messages(rec, uncompress=True)
        got = {(r["conv_id"], r["turn_idx"]): r["text"]
               for r in msgs.collect()}
        assert got[("t/0", 0)].startswith("<13>Jan")
        assert got[("t/0", 1)] == "<14>compressed record"
        assert got[("t/1", 0)] == "plain"
        # feeds the normal front door end-to-end
        p = with_parsed(msgs)
        pri = {(r["conv_id"], r["turn_idx"]): r["pri"] for r in p.collect()}
        assert pri[("t/0", 1)] == 14
        assert KAFKA_SCHEMA.startswith("key binary")


    def test_offsets_beyond_int32(self, spark):
        # production Kafka offsets routinely exceed 2^31; turn_idx must
        # stay long (an int cast throws CAST_OVERFLOW under ANSI mode)
        from rsyslog_spark.sources.kafka import kafka_records_to_messages

        big = 2**31 + 5
        rec = spark.createDataFrame(
            [(None, b"m", "t", 0, big, "2024-01-05 10:00:00", 0)],
            "key binary, value binary, topic string, partition int, "
            "offset long, ts_s string, timestampType int",
        ).select(
            "key", "value", "topic", "partition", "offset",
            F.col("ts_s").cast("timestamp").alias("timestamp"),
            "timestampType",
        )
        out = kafka_records_to_messages(rec).collect()
        assert out[0]["turn_idx"] == big


class TestPmCiscoNull:
    """pmciscoios + pmnull dialects (plugins/pmciscoios/pmciscoios.c,
    plugins/pmnull/pmnull.c; golden line from tests/pmnull-basic.sh)."""

    GOLD = ("16261: May 28 16:09:56.185: %SYS-5-CONFIG_I: Configured "
            "from console by adminsepp on vty0 (10.23.214.226)")

    @pytest.fixture(scope="class")
    def frame(self, spark):
        rows = [
            (1, self.GOLD, "2014-06-01 00:00:00"),
            # no seqno terminator -> COULD_NOT_PARSE (the C delimiter
            # check fires even with zero digits read)
            (2, "*Mar  1 18:46:11.299: %SYS-5-CONFIG_I: x",
             "2014-06-01 00:00:00"),
            # zero-digit counter with ': ' present parses as seq 0
            (3, ": Mar  1 18:46:11: %LINK-3-UPDOWN: y",
             "2014-06-01 00:00:00"),
            # TZ string + '.' NTP flag + Dec/Jan year rollover back
            (4, "7: .Dec 31 23:59:59 UTC: %X-1-Y: z",
             "2015-01-02 00:00:00"),
            # Jan with Dec reception -> year forward
            (5, "8: Jan  1 00:00:00: %A-0-B: w", "2014-12-30 00:00:00"),
            # year before month / after day (datetime.c:450 grammar)
            (6, "9: 2013 May 28 16:09:56: %T-1-U: a",
             "2014-06-01 00:00:00"),
            (7, "10: May 28 2013 16:09:56: %T-1-U: b",
             "2014-06-01 00:00:00"),
            # year twice -> invalid (datetime.c:452)
            (8, "12: 2013 May 28 2014 16:09:56: %T-1-U: c",
             "2014-06-01 00:00:00"),
            (9, "11: garbage", "2014-06-01 00:00:00"),
        ]
        return (
            spark.createDataFrame(rows, "i long, text string, ts_s string")
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
        )

    def test_golden_walk(self, frame):
        from rsyslog_spark.parse.pmcisco import parse_ciscoios

        by = {r["i"]: r for r in parse_ciscoios(frame).collect()}
        g = by[1]
        assert g["cisco_ok"] and g["cisco_seq"] == 16261
        assert str(g["cisco_ts"]) == "2014-05-28 16:09:56.185000"
        # TAG keeps '%' and trailing ':', MSG keeps the leading space
        assert g["cisco_tag"] == "%SYS-5-CONFIG_I:"
        assert g["cisco_msg"].startswith(" Configured from console")
        assert not by[2]["cisco_ok"]
        assert by[3]["cisco_ok"] and by[3]["cisco_seq"] == 0
        assert by[4]["cisco_tz"] == "UTC"
        assert str(by[4]["cisco_ts"]).startswith("2014-12-31")
        assert str(by[5]["cisco_ts"]).startswith("2015-01-01")
        assert str(by[6]["cisco_ts"]).startswith("2013-05-28")
        assert str(by[7]["cisco_ts"]).startswith("2013-05-28")
        assert not by[8]["cisco_ok"]
        assert not by[9]["cisco_ok"]

    def test_seq_overflow_fails_parse(self, spark):
        from rsyslog_spark.parse.pmcisco import parse_ciscoios

        rows = [
            # counter beyond int64: parse failure, NOT a silent seq=0
            (1, "99999999999999999999: May 28 16:09:56: %T-1-U: x",
             "2014-06-01 00:00:00"),
            (2, str(2**63 - 1) + ": May 28 16:09:56: %T-1-U: x",
             "2014-06-01 00:00:00"),
        ]
        df = (
            spark.createDataFrame(rows, "i long, text string, ts_s string")
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
        )
        by = {r["i"]: r for r in parse_ciscoios(df).collect()}
        assert not by[1]["cisco_ok"] and by[1]["cisco_seq"] is None
        assert by[2]["cisco_ok"] and by[2]["cisco_seq"] == 2**63 - 1

    def test_origin_and_xr(self, frame, spark):
        from rsyslog_spark.parse.pmcisco import parse_ciscoios

        rows = [
            (1, "20: host-a: May 28 16:09:56: %S-5-C: m",
             "2014-06-01 00:00:00"),
            # IPv6 origin: lone ':' is not a delimiter (only ': ')
            (2, "21: ::1: May 28 16:09:56: %S-5-C: m",
             "2014-06-01 00:00:00"),
        ]
        df = (
            spark.createDataFrame(rows, "i long, text string, ts_s string")
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
        )
        by = {
            r["i"]: r
            for r in parse_ciscoios(df, present_origin=True).collect()
        }
        assert by[1]["cisco_origin"] == "host-a"
        assert by[2]["cisco_origin"] == "::1"

    def test_origin_empty(self, spark):
        # C walk (pmciscoios.c:177-192): the origin loop exits
        # immediately on a leading ': ' and the delimiter check only
        # inspects *(p2parse+1), so an EMPTY origin parses fine
        from rsyslog_spark.parse.pmcisco import parse_ciscoios

        df = (
            spark.createDataFrame(
                [(1, "20: : May 28 16:09:56: %S-5-C: m",
                  "2014-06-01 00:00:00")],
                "i long, text string, ts_s string",
            )
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
        )
        r = parse_ciscoios(df, present_origin=True).first()
        assert r["cisco_ok"] and r["cisco_origin"] == ""
        assert r["cisco_tag"] == "%S-5-C:"

    def test_xr_walk(self, spark):
        # goldens hand-derived from the C walk (pmciscoios.c:197-234,
        # 248): pre-TS skip to first ':', post-TS skip to first '%',
        # tag terminated "%TAG : " (one extra char before ': ')
        from rsyslog_spark.parse.pmcisco import parse_ciscoios

        rows = [
            (1, "123: RP/0/RSP0/CPU0:Dec 13 02:01:05.637 UTC: "
                "pim[1000]: %ROUTING-IPV4_PIM-5-INTCHG : "
                "IPv4 PIM interface up",
             "2014-12-20 00:00:00"),
            # a NON-xr-shaped tag "%TAG: msg" FAILS under xr: the
            # skipped terminator char eats the ':' so the ": " check
            # lands on " m"
            (2, "124: RP/0/RSP0/CPU0:Dec 13 02:01:05 UTC: p: %T-1-U: m",
             "2014-12-20 00:00:00"),
            # double-colon tag terminator also satisfies the walk
            (3, "125: LC/0/0/CPU0:Dec 13 02:01:05 UTC: x: %T-1-U:: m",
             "2014-12-20 00:00:00"),
        ]
        df = (
            spark.createDataFrame(rows, "i long, text string, ts_s string")
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
        )
        by = {
            r["i"]: r for r in parse_ciscoios(df, present_xr=True).collect()
        }
        g = by[1]
        assert g["cisco_ok"] and g["cisco_seq"] == 123
        assert str(g["cisco_ts"]) == "2014-12-13 02:01:05.637000"
        assert g["cisco_tz"] == "UTC"
        assert g["cisco_tag"] == "%ROUTING-IPV4_PIM-5-INTCHG:"
        assert g["cisco_msg"] == " IPv4 PIM interface up"
        assert not by[2]["cisco_ok"]
        assert by[3]["cisco_ok"] and by[3]["cisco_msg"] == " m"

    def test_pmnull_golden(self, spark):
        from rsyslog_spark.parse.pmcisco import parse_null

        raw = "<189>" + self.GOLD
        df = spark.createDataFrame([(raw,)], "text string")
        # defaults: tag empty, pri 13 (tests/pmnull-basic.sh)
        r = parse_null(df).first()
        assert (r["null_tag"], r["null_pri"], r["null_msg"]) == ("", 13, raw)
        # with params: tag/facility/severity (tests/pmnull-withparams.sh)
        r = parse_null(
            df, tag="mytag", syslogfacility=3, syslogseverity=1
        ).first()
        assert (r["null_tag"], r["null_pri"]) == ("mytag", 25)


class TestContribRewriters:
    """pmcisconames + pmaixforwardedfrom (contrib/*, r4): message
    rewriters that always decline but mutate the raw; goldens derived
    from the C walks."""

    def _fix(self, spark, fn, texts):
        from rsyslog_spark.parse import contrib

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, text string"
        )
        out = df.withColumn("fixed", getattr(contrib, fn)(F.col("text")))
        return [r["fixed"] for r in out.orderBy("i").collect()]

    def test_cisconames_golden(self, spark):
        short = "May  1 00:00:01 fw01 : %ASA-1-000000: hello"
        long_ = "May  1 2014 00:00:01 fw01 : %ASA-1-000000: hello"
        got = self._fix(spark, "fix_cisconames", [
            short,                                  # short ts -> fixed
            long_,                                  # long ts -> fixed
            "   " + short,                          # leading SP kept
            "May  1 00:00:01 fw01 : ASA: x" + "x" * 10,   # no '%'
            "bad timestamp here fw01 : %ASA-1-000000: hello",
            "May  1 00:00:01 fw01 : %",             # nothing after %
            short[:33],                             # < 34 chars
        ])
        assert got[0] == "May  1 00:00:01 fw01 %ASA-1-000000: hello"
        assert got[1] == "May  1 2014 00:00:01 fw01 %ASA-1-000000: hello"
        assert got[2] == "   May  1 00:00:01 fw01 %ASA-1-000000: hello"
        assert got[3].endswith("ASA: x" + "x" * 10)          # unchanged
        assert got[4] == "bad timestamp here fw01 : %ASA-1-000000: hello"
        assert got[5] == "May  1 00:00:01 fw01 : %"          # unchanged
        assert got[6] == short[:33]                          # unchanged

    def test_cisconames_positional_wildcards(self, spark):
        # the C checks ONLY offsets 3,6,9,12,15 — other chars are free
        weird = "Xyz 99 ZZ:88:77 host : %TAG-1-0: m"
        got = self._fix(spark, "fix_cisconames", [weird])
        assert got[0] == "Xyz 99 ZZ:88:77 host %TAG-1-0: m"

    def test_aix_golden(self, spark):
        ts = "Oct 11 11:11:11 "
        got = self._fix(spark, "fix_aix_forwarded_from", [
            ts + "Message forwarded from srv1: su: ok",
            ts + "From srv1: su: ok",
            ts + "from SRV1: x",                    # case-insensitive
            ts + "su: login ok",                    # no preamble
            # partial commit: preamble removed, but a SP before any ':'
            # aborts the colon stage (C: "similar enough that the
            # preamble has been removed")
            ts + "From srv one: x",
            ts + "From x",          # 22 chars < 24 floor AND < 2 after
        ])
        assert got[0] == ts + "srv1 su: ok"
        assert got[1] == ts + "srv1 su: ok"
        assert got[2] == ts + "SRV1 x"
        assert got[3] == ts + "su: login ok"        # unchanged
        assert got[4] == ts + "srv one: x"          # preamble gone, ':' kept
        assert got[5] == ts + "From x"              # unchanged

    def test_chain_integration_rewrite_then_null(self, spark):
        # pmnull BEFORE the rewriter sees the original raw; pmnull
        # AFTER it sees the mutated raw (the C memmove on pszRawMsg)
        from rsyslog_spark.parse.chain_custom import build_custom_chain

        raw = "<13>May  1 00:00:01 fw01 : %ASA-1-000000: hello"
        df = spark.createDataFrame([(raw,)], "text string").withColumn(
            "ts", F.lit("2014-06-01 00:00:00").cast("timestamp")
        )
        after = build_custom_chain(df, [
            {"name": "fix", "type": "pmcisconames"},
            {"name": "null", "type": "pmnull"},
        ]).first()
        assert after["msg"] == "<13>May  1 00:00:01 fw01 %ASA-1-000000: hello"
        before = build_custom_chain(df, [
            {"name": "null", "type": "pmnull"},
            {"name": "fix", "type": "pmcisconames"},
        ]).first()
        assert before["msg"] == raw

    def test_rewrite_then_default_chain(self, spark):
        # the pairing the contrib modules exist for: fix the mangled
        # hostname (post-PRI, like the AutomaticPRIParsing chain),
        # then the stock 3164 chain parses TAG correctly
        from rsyslog_spark.parse.contrib import rewrite_text

        raw = "<13>May  1 00:00:01 fw01 : %ASA-1-000000: hello"
        df = spark.createDataFrame([(raw,)], "text string").withColumn(
            "ts", F.lit("2014-06-01 00:00:00").cast("timestamp")
        )
        df = rewrite_text(df, ["pmcisconames"])
        assert df.columns == ["text", "ts"]
        r = with_parsed(df).first()
        assert r["parser"] == "rfc3164"
        assert r["hostname"] == "fw01"
        assert r["syslogtag"] == "%ASA-1-000000:"
        assert r["msg"] == " hello"

    def test_config_text_contrib_instances(self, spark):
        from rsyslog_spark.config import apply_ruleset_parsers

        conf = '''
ruleset(name="r" parser=["rsyslog.cisconames", "rsyslog.pmnull"]) {
    action(type="omfile" file="/log/out.log")
}
'''
        raw = "<13>May  1 00:00:01 fw01 : %ASA-1-000000: hello"
        df = spark.createDataFrame([(raw,)], "text string").withColumn(
            "ts", F.lit("2014-06-01 00:00:00").cast("timestamp")
        )
        parsed, _ = apply_ruleset_parsers(df, conf, "r")
        r = parsed.first()
        assert r["parser"] == "rsyslog.pmnull"
        assert r["msg"] == "<13>May  1 00:00:01 fw01 %ASA-1-000000: hello"

    def test_snare_golden(self, spark):
        # pmsnare (contrib/pmsnare/pmsnare.c:252-343), default escaped
        # tab "#011": the hostname->tag separator and the one AFTER the
        # tag collapse to '#'; later separators stay
        from rsyslog_spark.parse import contrib

        tabbed = ("winhost#011MSWinEventLog#0115#011Security#011"
                  "1234#011data")
        sysl = ("May 17 02:25:10 winhost MSWinEventLog#0115#011"
                "Security#011x")
        nontag = ("tabhost#011NotSnareTag stuff here MSWinEventLog#011"
                  "padpad")
        linux = "lnxhost#011LinuxKAudit#011a#011bcdefghij"
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate([tabbed, sysl, nontag, linux])],
            "i long, text string",
        )
        out = df.withColumn("fixed", contrib.fix_snare(F.col("text")))
        got = [r["fixed"] for r in out.orderBy("i").collect()]
        assert got[0] == ("winhost#MSWinEventLog#5#011Security#011"
                          "1234#011data")
        assert got[1] == ("May 17 02:25:10 winhost MSWinEventLog#5"
                          "#011Security#011x")
        # tab-separated but non-Snare tag: NO rewrite, and no fallback
        # to the syslog shape (the C aborts inside the tab branch)
        assert got[2] == nontag
        assert got[3] == "lnxhost#LinuxKAudit#a#011bcdefghij"

    def test_snare_raw_tab_is_validated_noop(self, spark):
        from rsyslog_spark.parse import contrib

        raw = "winhost\tMSWinEventLog\t5\tSecurity\t99\thello"
        df = spark.createDataFrame([(raw,)], "text string")
        r = df.withColumn(
            "fixed", contrib.fix_snare(F.col("text"), "\t")
        ).first()
        assert r["fixed"] == raw

    def test_snare_config_instance(self, spark):
        from rsyslog_spark.config import apply_ruleset_parsers

        conf = '''
ruleset(name="r" parser=["rsyslog.snare", "rsyslog.pmnull"]) {
    action(type="omfile" file="/log/out.log")
}
'''
        raw = "<13>winhost#011MSWinEventLog#0115#011Security#011pad"
        df = spark.createDataFrame([(raw,)], "text string").withColumn(
            "ts", F.lit("2017-05-17 00:00:00").cast("timestamp")
        )
        parsed, _ = apply_ruleset_parsers(df, conf, "r")
        r = parsed.first()
        assert r["msg"] == "<13>winhost#MSWinEventLog#5#011Security#011pad"


class TestPanNgfw:
    """pmpanngfw (contrib/pmpanngfw): CSV->TAB rewriter goldens from
    the C state machine."""

    def _fix(self, spark, texts):
        from rsyslog_spark.parse import contrib

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, text string"
        )
        out = df.withColumn("fixed", contrib.fix_panngfw(F.col("text")))
        return [r["fixed"] for r in out.orderBy("i").collect()]

    def test_golden(self, spark):
        got = self._fix(spark, [
            'host,2024,serial,TRAFFIC,"a,b",plain,"q""q"',
            "host,2024,serial,THREAT,x,y",
            "host,2024,serial,FOO,x,y",       # unknown log type
            "a,b,c",                           # only 3 fields, too short
            "no commas at all",
        ])
        assert got[0] == "host,2024,serial,TRAFFIC\ta,b\tplain\tq\"q"
        assert got[1] == "host,2024,serial,THREAT\tx\ty"
        assert got[2] == "host,2024,serial,FOO,x,y"
        assert got[3] == "a,b,c"
        assert got[4] == "no commas at all"

    def test_martian_partial_commit(self, spark):
        # a non-quote non-comma after a closing quote aborts, leaving
        # the compacted prefix in place and the tail untouched, length
        # unchanged — the C's in-place overwrite
        raw = 'h,2,3,SYSTEM,"x"y'
        got = self._fix(spark, [raw])
        assert got[0] == "h,2,3,SYSTEM\txx\"y"
        assert len(got[0]) == len(raw)


class TestDb2Diag:
    def _line(self):
        ts = "2024-01-15-10.30.45.123456+060"       # 30 chars
        s = ts + " " * (59 - len(ts)) + "Error"      # level at 59
        s += " PID : 12345 "                          # ':' after level
        pid_start = s.index(": 12345") + 2            # 0-based
        s += " " * (pid_start + 49 - len(s)) + "db2sysc 0"
        return s, pid_start

    def test_golden_fields(self, spark):
        from rsyslog_spark.parse.db2diag import parse_db2diag

        line, _ = self._line()
        df = spark.createDataFrame([(line,)], "text string")
        r = parse_db2diag(df).first()
        assert r["db2_ok"]
        assert r["db2_severity"] == 3               # Error
        # +060 = 60 MINUTES east: UTC = local - 1h
        assert str(r["db2_ts"]) == "2024-01-15 09:30:45.123456"
        assert r["db2_procid"] == "12345"
        assert r["db2_appname"] == "db2sysc"

    def test_level_variants_and_quirks(self, spark):
        from rsyslog_spark.parse.db2diag import parse_db2diag

        base, _ = self._line()
        rows = [
            (1, base.replace("Error", "Event")),     # E + not 'r' -> 5
            (2, base.replace("Error", "Warni")),     # W -> 4 (len 7 ok)
            (3, base[:59] + "Xyzzy" + base[64:]),    # unknown level
            (4, base[:60]),                           # 'E' but truncated
            (5, "short"),                             # < levelpos+4
        ]
        df = spark.createDataFrame(rows, "i long, text string")
        by = {r["i"]: r for r in parse_db2diag(df).collect()}
        assert by[1]["db2_ok"] and by[1]["db2_severity"] == 5
        assert by[2]["db2_ok"] and by[2]["db2_severity"] == 4
        # unknown level char: ABORT_FINALIZE(0) == RS_RET_OK — message
        # ACCEPTED with no fields (reference quirk, kept)
        assert by[3]["db2_ok"] and by[3]["db2_severity"] is None
        assert not by[4]["db2_ok"]                  # known, truncated
        assert not by[5]["db2_ok"]

    def test_appname_backslash_stop(self, spark):
        from rsyslog_spark.parse.db2diag import parse_db2diag

        line, _ = self._line()
        line = line.replace("db2sysc 0", "db2sy\\sc 0")
        r = parse_db2diag(
            spark.createDataFrame([(line,)], "text string")
        ).first()
        assert r["db2_appname"] == "db2sy"

    def test_chain_instance(self, spark):
        from rsyslog_spark.config import apply_ruleset_parsers

        line, _ = self._line()
        conf = '''
ruleset(name="r" parser=["db2.diag", "rsyslog.pmnull"]) {
    action(type="omfile" file="/log/out.log")
}
'''
        df = spark.createDataFrame([(line,)], "text string").withColumn(
            "ts", F.lit("2024-01-15 12:00:00").cast("timestamp")
        )
        parsed, _ = apply_ruleset_parsers(df, conf, "r")
        r = parsed.first()
        assert r["parser"] == "db2.diag"
        # severity 3 grafted onto the PRI-default facility (1*8+3=11)
        assert (r["syslogfacility"], r["syslogseverity"]) == (1, 3)
        assert r["app_name"] == "db2sysc"
        assert r["procid"] == "12345"
        assert r["msg"] == line


class TestLognormRulebase:
    """mmnormalize with a real liblognorm v1 rulebase subset
    (mods.mm_normalize_rulebase): first-match-wins, unparsed events,
    quote stripping."""

    RB = """
# firewall events
rule=:%host:word% %action:word% from %src:ipv4%
rule=fw:%date:date-rfc3164% device=%dev:char-to:,%, msg=%m:quoted-string%
rule=:pct %%done: %pct:number% then %-:word% end
"""

    def test_match_and_unparsed(self, spark):
        from rsyslog_spark.mods import mm_normalize_rulebase

        rows = [
            (1, "web01 ACCEPT from 10.0.0.1"),
            (2, 'Oct 11 11:11:11 device=fw-a, msg="hello there"'),
            (3, "pct %done: 85 then skipme end"),
            (4, "no rule matches this"),
        ]
        df = spark.createDataFrame(rows, "i long, msg string")
        by = {r["i"]: dict(r["norm"])
              for r in mm_normalize_rulebase(df, self.RB).collect()}
        assert by[1] == {"host": "web01", "action": "ACCEPT",
                         "src": "10.0.0.1"}
        assert by[2] == {"date": "Oct 11 11:11:11", "dev": "fw-a",
                         "m": "hello there"}     # quotes stripped
        assert by[3] == {"pct": "85"}            # %- field not emitted
        assert by[4] == {"originalmsg": "no rule matches this",
                         "unparsed-data": "no rule matches this"}

    def test_first_match_wins(self, spark):
        from rsyslog_spark.mods import mm_normalize_rulebase

        rb = ("rule=:%a:word% x\n"
              "rule=:%b:word% %c:word%\n")
        df = spark.createDataFrame([("foo x",)], "msg string")
        got = dict(mm_normalize_rulebase(df, rb).first()["norm"])
        assert got == {"a": "foo"}               # rule 1, not rule 2

    def test_rejections(self, spark):
        from rsyslog_spark.mods import parse_rulebase

        with pytest.raises(ValueError, match="unsupported liblognorm"):
            parse_rulebase("rule=:%x:json%")
        with pytest.raises(ValueError, match="only rule="):
            parse_rulebase("prefix=%date:date-rfc3164%")
        with pytest.raises(ValueError, match="char-to"):
            parse_rulebase("rule=:%x:char-to%")


class TestImkafkaOptions:
    def test_param_mapping(self):
        from rsyslog_spark.sources.kafka import imkafka_options

        opts = imkafka_options({
            "topic": "syslog",
            "broker": ["k1:9092", "k2:9092"],
            "consumergroup": "rsyslog",
            "confparam": ["session.timeout.ms=30000",
                          "fetch.max.bytes = 1048576"],
            "ruleset": "kafka_rs",
        })
        assert opts["kafka.bootstrap.servers"] == "k1:9092,k2:9092"
        assert opts["subscribe"] == "syslog"
        assert opts["kafka.group.id"] == "rsyslog"
        assert opts["kafka.session.timeout.ms"] == "30000"
        assert opts["kafka.fetch.max.bytes"] == "1048576"
        assert opts["_pipeline"] == {"ruleset": "kafka_rs"}

    def test_defaults_and_rejections(self):
        import pytest as _pt

        from rsyslog_spark.sources.kafka import imkafka_options

        opts = imkafka_options({"topic": "t"})
        # imkafka.c:589 default broker
        assert opts["kafka.bootstrap.servers"] == "localhost:9092"
        with _pt.raises(ValueError, match="required"):
            imkafka_options({})
        with _pt.raises(ValueError, match="unknown input param"):
            imkafka_options({"topic": "t", "bogus": 1})
        with _pt.raises(ValueError, match="key=value"):
            imkafka_options({"topic": "t", "confparam": ["oops"]})


class TestPropReplTagGoldens:
    """tests/proprepltest-rfctag.sh + -nolimittag.sh: 3164 TAG shapes
    (colon tag, bare digit, 32-char numeric, over-long) rendered
    through %syslogtag:1:32% and unlimited %syslogtag% — cmp parity."""

    LINES = [
        "<167>Mar  6 16:57:54 172.20.245.8 TAG: Rest of message...",
        "<167>Mar  6 16:57:54 172.20.245.8 0 Rest of message...",
        "<167>Mar  6 16:57:54 172.20.245.8 "
        "01234567890123456789012345678901 Rest of message...",
        "<167>Mar  6 16:57:54 172.20.245.8 "
        "01234567890123456789012345678901-toolong Rest of message...",
    ]

    @pytest.fixture(scope="class")
    def parsed4(self, spark):
        from rsyslog_spark.parse import with_parsed

        df = spark.createDataFrame(
            [(i, l, "2014-03-10 00:00:00")
             for i, l in enumerate(self.LINES)],
            "i long, text string, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        return with_parsed(df, require_header=True)

    def _render(self, parsed4, tpl):
        from rsyslog_spark.templates import compile_template

        return [r["x"] for r in parsed4.select(
            "i", compile_template(tpl).alias("x")
        ).orderBy("i").collect()]

    def test_rfctag_32_limit(self, parsed4):
        assert self._render(parsed4, "+%syslogtag:1:32%+") == [
            "+TAG:+",
            "+0+",
            "+01234567890123456789012345678901+",
            "+01234567890123456789012345678901+",
        ]

    def test_nolimittag(self, parsed4):
        assert self._render(parsed4, "+%syslogtag%+") == [
            "+TAG:+",
            "+0+",
            "+01234567890123456789012345678901+",
            "+01234567890123456789012345678901-toolong+",
        ]


class TestImProg:
    """improg (contrib/improg/improg.c): external program -> messages
    over the START / lines+ACK / STOP handshake."""

    _CHILD = """\
import sys
log = open(sys.argv[1], "a")
start = sys.stdin.readline()
log.write("got:" + start); log.flush()
for i in range(4):
    print(f"line {i}" if i != 2 else "")   # empty line 2 is skipped
    sys.stdout.flush()
    ack = sys.stdin.readline()
    log.write("ack:" + ack.rstrip() + "\\n"); log.flush()
stop = sys.stdin.readline()
log.write("got:" + stop); log.flush()
"""

    def test_protocol_and_fields(self, spark, tmp_path):
        from rsyslog_spark.sources.prog import improg_spark

        script = tmp_path / "gen.py"
        script.write_text(self._CHILD)
        log = tmp_path / "proto.log"
        df = improg_spark(
            spark, f"python3 {script} {log}", tag="myprog:",
            severity=3, facility=10, localhostname="collector",
            timeout_s=3.0,
        )
        rows = df.orderBy("turn_idx").collect()
        # empty line skipped (enqLine :384-387)
        assert [r["text"] for r in rows] == ["line 0", "line 1", "line 3"]
        r0 = rows[0]
        assert r0["syslogtag"] == "myprog:"
        assert r0["pri"] == 10 * 8 + 3
        assert r0["hostname"] == "collector"
        proto = log.read_text().splitlines()
        # START before lines, one ACK per line (incl. the empty one —
        # the C ACKs BEFORE the empty-line check), STOP at the end
        assert proto[0] == "got:START"
        assert proto[1:5] == ["ack:ACK"] * 4
        assert proto[5] == "got:STOP"

    def test_front_door_integration(self, spark, tmp_path):
        """improg lines run through the normal parse chain like any
        other source's raw text."""
        from rsyslog_spark.parse import with_parsed
        from rsyslog_spark.sources.prog import improg_spark

        script = tmp_path / "gen.py"
        script.write_text(
            "import sys\n"
            "sys.stdin.readline()\n"
            "print('<13>Mar 10 01:00:00 h tag: from-prog')\n"
            "sys.stdout.flush()\n"
            "sys.stdin.readline()\n"
        )
        df = improg_spark(
            spark, f"python3 {script}", tag="p:", max_lines=1
        ).drop("syslogtag", "pri", "hostname")
        p = with_parsed(df).first()
        assert p["msg"] == " from-prog"
        assert p["syslogtag"] == "tag:"
        assert p["hostname"] == "h"

    def test_tag_required(self, spark):
        from rsyslog_spark.sources.prog import improg_spark
        import pytest as _pytest

        with _pytest.raises(ValueError, match="tag"):
            improg_spark(spark, "cat", tag="")


_BATCH_RECORDS = [
    "164313.149.x!A.1: TRACE:at:    { tpcommit(0x0)",
    "164313.150.x!A.2: TRACE:at:    } tpfree",
]


class TestImBatchReport:
    """imbatchreport (contrib/imbatchreport/imbatchreport.c): whole
    file = one message; goldens distilled from the reference e2e
    suite (imbatchreport_delete_success / _delete_structdata /
    _rename_success / _rename_toolarge / errmsg_* .sh)."""

    def _write(self, tmp_path, name, lines):
        f = tmp_path / name
        f.write_text("\n".join(lines) + "\n")
        return f

    def test_delete_structdata_golden(self, tmp_path):
        """_delete_structdata.sh: trailing [..] block -> SD (embedded
        LF removed), START= epoch overrides mtime, KSH="..." ->
        APP-NAME, block + surrounding whitespace leave the MSG, runs
        of spaces collapse, LF -> literal backslash-n, file deleted."""
        from rsyslog_spark.sources.batchreport import batchreport_poll

        f = self._write(
            tmp_path, "r.dsd.done",
            _BATCH_RECORDS
            + ['    [START=1552143924 KSH="MYBATCH.sh"', ' DURATION=120]     '],
        )
        msgs = batchreport_poll(
            reports=str(tmp_path / "*.done"), tag="batch",
            severity=6, facility=16,
            delete=r".done$ \t.rejected".replace(r"\t", "\t"),
            program_key="KSH", timestamp_key="START",
            dedup_space=True, localhostname="server",
        )
        assert len(msgs) == 1
        m = msgs[0]
        assert m["msg"] == (
            "164313.149.x!A.1: TRACE:at: { tpcommit(0x0)\\n"
            "164313.150.x!A.2: TRACE:at: } tpfree"
        )
        assert m["structured_data"] == (
            '[START=1552143924 KSH="MYBATCH.sh" DURATION=120]'
        )
        assert m["app_name"] == "MYBATCH.sh"
        assert m["ts_epoch"] == 1552143924  # 2019-03-09T15:05:24Z
        assert m["pri"] == 134
        assert (m["hostname"], m["procid"], m["msgid"]) == (
            "server", "-", "-"
        )
        assert not f.exists()  # delete on success

    def test_rename_success_and_no_sd(self, tmp_path):
        """_rename_success.sh: no SD block -> SD '-', mtime timestamp;
        file renamed to path[:match.start] + sent suffix."""
        from rsyslog_spark.sources.batchreport import batchreport_poll

        f = self._write(tmp_path, "r.rs.done", _BATCH_RECORDS)
        msgs = batchreport_poll(
            reports=str(tmp_path / "*.done"), tag="batch",
            rename=".done$ .sent .rejected", dedup_space=True,
        )
        assert msgs[0]["structured_data"] == "-"
        assert msgs[0]["app_name"] is None
        assert msgs[0]["ts_epoch"] == int(f"{int((tmp_path / 'r.rs.sent').stat().st_mtime)}")
        assert not f.exists()
        assert (tmp_path / "r.rs.sent").exists()

    def test_too_large_rejected(self, tmp_path):
        """_rename_toolarge.sh: body over max_msg_size -> the message
        is 'File too large : <path>' and the file renames to the
        REJECTED suffix."""
        from rsyslog_spark.sources.batchreport import (
            FILE_TOO_LARGE,
            batchreport_poll,
        )

        f = self._write(tmp_path, "r.tl.done", ["x" * 500] * 4)
        msgs = batchreport_poll(
            reports=str(tmp_path / "*.done"), tag="batch",
            rename=".done$ .sent .rejected", max_msg_size=800,
        )
        assert msgs[0]["msg"] == FILE_TOO_LARGE + str(f)
        assert msgs[0]["too_large"]
        assert (tmp_path / "r.tl.rejected").exists()
        assert not f.exists()

    def test_param_errors(self, tmp_path):
        """errmsg_* parity: rename/delete exclusivity + arity + regex
        validation are config errors."""
        from rsyslog_spark.sources.batchreport import batchreport_poll
        import pytest as _pytest

        g = str(tmp_path / "*.done")
        with _pytest.raises(ValueError, match="exclusive"):
            batchreport_poll(
                reports=g, tag="t",
                rename=".done$ .s .r", delete=".done$ .r",
            )
        with _pytest.raises(ValueError, match="exclusive"):
            batchreport_poll(reports=g, tag="t")
        with _pytest.raises(ValueError, match="THREE"):
            batchreport_poll(reports=g, tag="t", rename=".done$ .s")
        with _pytest.raises(ValueError, match="TWO"):
            batchreport_poll(reports=g, tag="t", delete=".done$")
        with _pytest.raises(ValueError, match="valid regex"):
            batchreport_poll(reports=g, tag="t", delete="[bad .r")

    def test_nonmatching_action_regex_stops(self, tmp_path):
        """A file the action regex cannot rename out of the glob scope
        stops the poll (imbatchreport.c:455-459) — nothing consumed."""
        from rsyslog_spark.sources.batchreport import batchreport_poll

        f = self._write(tmp_path, "r.nm.done", _BATCH_RECORDS)
        msgs = batchreport_poll(
            reports=str(tmp_path / "*.done"), tag="batch",
            delete=r"\.other$ .rejected",
        )
        assert msgs == []
        assert f.exists()

    def test_sd_window_quirk(self, tmp_path):
        """A trailing ']' whose '[' is beyond the 150-byte window
        still drops the scanned tail from the MSG (the C subtracts
        stdata_len unconditionally, :331) — bug-for-bug."""
        from rsyslog_spark.sources.batchreport import batchreport_poll

        body = "A" * 10 + "[" + "B" * 200 + "]"
        f = self._write(tmp_path, "r.wq.done", [body])
        msgs = batchreport_poll(
            reports=str(tmp_path / "*.done"), tag="batch",
            delete=".done$ .rejected",
        )
        m = msgs[0]
        assert m["structured_data"] == "-"  # '[' outside the window
        # the scanned 150-byte tail is dropped from the MSG
        assert len(m["msg"]) == len(body) - 149
        assert not f.exists()

    def test_spark_frame(self, spark, tmp_path):
        from rsyslog_spark.sources.batchreport import batchreport_spark

        self._write(tmp_path, "r.sf.done", _BATCH_RECORDS)
        df = batchreport_spark(
            spark, reports=str(tmp_path / "*.done"), tag="batch",
            delete=".done$ .rejected", dedup_space=True,
        )
        row = df.first()
        assert row["syslogtag"] == "batch"
        assert row["pri"] == 133  # local0.notice defaults
        assert row["timereported"] is not None


class TestImTuxedoUlog:
    """imtuxedoulog (contrib/imtuxedoulog/imtuxedoulog.c): the
    reference e2e golden tests/imtuxedoulog_data.sh reproduced
    field-for-field."""

    _LINES = [
        "164313.15.tst-tmsm1!ARTIMPP_UDB.40042721.1.0: gtrid x0 "
        "x5624ee75 x1c88a0f: TRACE:at:    } tpfree",
        "164313.151.tst-tmsm1!ARTIMPP_UDB.40042722.1.0: gtrid x0 "
        "x5624ee75 x1c88a0f: ECID <000001833E1D4^>: TRACE:at:    } tpfree",
        "164313.154.tst-tmsm1!ARTIMPP_UDB.40042722.1.0: "
        "ECID <000001833E1D4V^>: TRACE:at:    { tpacall(0xc)",
    ]

    def test_data_golden(self, tmp_path):
        import datetime as dt

        from rsyslog_spark.sources.tuxedoulog import tuxedoulog_poll

        day = dt.date(2024, 3, 9)
        f = tmp_path / "ULOG.030924"
        f.write_text("\n".join(self._LINES) + "\n")
        msgs = tuxedoulog_poll(
            ulogbase=str(tmp_path / "ULOG"), tag="domain",
            severity=6, facility=16, date=day,
        )
        assert len(msgs) == 3
        m0, m1, m2 = msgs
        # line 1: gtrid dropped, no SD, ss.15 (precision 2)
        assert m0["hostname"] == "tst-tmsm1"
        assert m0["procid"] == "ARTIMPP_UDB.40042721.1"  # .0 ctx dropped
        assert m0["structured_data"] == "-"
        assert m0["msg"] == "TRACE:at:    } tpfree"
        assert m0["ts"] == dt.datetime(2024, 3, 9, 16, 43, 13, 150000)
        assert m0["pri"] == 134
        # line 2: gtrid dropped THEN ECID -> SD with the C's trailing
        # space (the golden's double-space before the text)
        assert m1["structured_data"] == '[ECID="000001833E1D4^"] '
        assert m1["msg"] == "TRACE:at:    } tpfree"
        assert m1["ts"].microsecond == 151000  # .151, precision 3
        # line 3: ECID without gtrid
        assert m2["structured_data"] == '[ECID="000001833E1D4V^"] '
        assert m2["msg"] == "TRACE:at:    { tpacall(0xc)"

    def test_parse_rejections(self):
        from rsyslog_spark.sources.tuxedoulog import parse_ulog_line

        assert parse_ulog_line("254313.15.h!p.1.0: x") is None  # hour 25
        assert parse_ulog_line("164313.15.hostonly: x") is None  # no '!'
        assert parse_ulog_line("164313.15.h!p-no-colon") is None
        # ECID without '>' -> no SD, text from the ECID word
        p = parse_ulog_line("164313.15.h!p.1.0: ECID <broken")
        assert p["structured_data"] == "-"
        assert p["msg"] == "ECID <broken"

    def test_mandatory_params(self):
        from rsyslog_spark.sources.tuxedoulog import tuxedoulog_poll
        import pytest as _pytest

        with _pytest.raises(ValueError, match="mandatory"):
            tuxedoulog_poll(ulogbase="", tag="t")

    def test_spark_frame(self, spark, tmp_path):
        import datetime as dt

        from rsyslog_spark.sources.tuxedoulog import tuxedoulog_spark

        day = dt.date(2024, 3, 9)
        (tmp_path / "ULOG.030924").write_text(self._LINES[0] + "\n")
        df = tuxedoulog_spark(
            spark, ulogbase=str(tmp_path / "ULOG"), tag="domain",
            date=day,
        )
        row = df.first()
        assert row["procid"] == "ARTIMPP_UDB.40042721.1"
        assert row["timereported"] is not None
