"""Config-as-query frontend tests: rsyslog.conf text -> compiled routing.

The golden: a text config reproducing the flagship ruleset must yield
the exact per-sink counts of the hand-built pipeline (config parity =
'a reference user can bring their config')."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from rsyslog_spark.config import compile_config, parse_config
from rsyslog_spark.parse import with_parsed

FLAGSHIP_CONF = """
# flagship ruleset as rsyslog.conf text
template(name="trad" type="string"
         string="%TIMESTAMP% %HOSTNAME% %syslogtag%%msg:::sp-if-no-1st-sp%%msg:::drop-last-lf%\\n")

ruleset(name="flagship") {
    if not $parsesuccess then {
        action(type="omfile" file="/var/log/parse_errors.log")
        stop
    }
    if $syslogseverity <= 3 then {
        action(type="omfile" file="/var/log/sev_high.log" template="trad")
    }
    if $msg contains "msgnum" then {
        action(type="omfile" file="/var/log/by_app.log")
    }
    action(type="omfile" file="/var/log/archive.log" template="trad")
}
"""


def _counts(ann, actions):
    agg = ann.agg(
        *[F.sum(F.col(a.pred_col).cast("long")).alias(a.sink) for a in actions]
    ).first()
    return {a.sink: int(agg[a.sink] or 0) for a in actions}


class TestConfigText:
    def test_flagship_parity(self, parsed):
        ann, actions = compile_config(parsed, FLAGSHIP_CONF, entry="flagship")
        counts = _counts(ann, actions)
        assert counts["parse_errors"] == 100
        assert counts["archive"] == 900
        assert counts["by_app"] == 900
        assert counts["sev_high"] == sum(
            1 for i in range(1000) if i % 10 <= 7 and i % 8 <= 3
        )

    def test_template_render_matches_builtin(self, parsed):
        ann, actions = compile_config(parsed, FLAGSHIP_CONF, entry="flagship")
        arch = next(a for a in actions if a.sink == "archive")
        from rsyslog_spark.templates import compile_template

        builtin = parsed.filter("parse_success").select(
            compile_template("RSYSLOG_TraditionalFileFormat").alias("x")
        )
        ours = arch.output(ann).select(F.col(arch.out_col).alias("x"))
        assert builtin.exceptAll(ours).count() == 0

    def test_prifilt_and_arrays_and_set(self, parsed):
        conf = """
        ruleset(name="r") {
            set $!cls = "none";
            if prifilt("*.err;mail.none") then {
                set $!cls = "hot";
                action(type="omfile" file="/x/hot.log")
            }
            if $programname == ["chat", "sshd-like"] then {
                action(type="omfile" file="/x/apps.log")
            }
            if $msg contains_i "LAZY" then {
                action(type="omfile" file="/x/lazy.log")
            }
        }
        """
        ann, actions = compile_config(parsed, conf, entry="r")
        counts = _counts(ann, actions)
        # *.err;mail.none: sev<=3 all fac except mail(2); over parsed rows
        assert counts["hot"] == sum(
            1
            for i in range(1000)
            if (i % 10 <= 7 and i % 8 <= 3 and i % 24 != 2)
            or (i % 10 == 8 and False)  # class 8: fac=1 sev=5 -> excluded
        )
        assert counts["apps"] == sum(
            1 for i in range(1000)
            if i % 10 <= 7 and i % 4 in (1, 3)
        ) + 0  # class 8 programname '' doesn't match
        rows = ann.limit(0)  # force no-op; vars checked below
        sample = ann.filter(F.col("syslogseverity") <= 3).select("vars").first()
        assert sample["vars"]["cls"] in ("hot", "none")

    def test_omdiscard_and_legacy_selector(self, parsed):
        conf = """
        $template shortmsg,"%msg:1:20%"
        :programname, isequal, "chat" /var/log/chat.log
        *.=emerg /var/log/panic.log
        if $syslogseverity >= 6 then {
            action(type="omdiscard")
        }
        action(type="omfile" file="/var/log/rest.log")
        """
        ann, actions = compile_config(parsed, conf)
        counts = _counts(ann, actions)
        assert counts["chat"] == sum(
            1 for i in range(1000) if i % 10 <= 7 and i % 4 == 1
        )
        assert counts["panic"] == sum(
            1 for i in range(1000) if i % 10 <= 7 and i % 8 == 0
        )
        # omdiscard == stop for sev>=6: rest gets only sev<6 rows; the
        # headerless/garbage classes default to pri 13 -> sev 5 -> pass
        assert counts["rest"] == sum(
            1 for i in range(1000)
            if (i % 10 <= 7 and i % 8 < 6) or i % 10 >= 8
        )
        cfg = parse_config(conf)
        assert "shortmsg" in cfg.templates

    def test_mixed_type_compare(self, spark):
        df = spark.createDataFrame(
            [("42",), ("x42",), ("",)], "v string"
        )
        conf = 'if $msg == 42 then { action(type="omfile" file="/n.log") }'
        ann, actions = compile_config(
            df.withColumnRenamed("v", "msg"), conf
        )
        hits = ann.filter(F.col(actions[0].pred_col)).select("msg").collect()
        # '42' converts fully -> numeric equal; 'x42' falls back to string
        # compare vs '42' -> false; '' -> 0 == 42 false
        assert [r["msg"] for r in hits] == ["42"]


class TestExprExtensions:
    def test_concat_and_exists(self, parsed):
        conf = """
        ruleset(name="x") {
            set $!k = $programname & "-" & $syslogseverity;
            if exists($!k) and $!k == "chat-6" then {
                action(type="omfile" file="/t/hit.log")
            }
            if not exists($!absent) then {
                action(type="omfile" file="/t/noabs.log")
            }
        }
        """
        from rsyslog_spark.config import compile_config

        ann, actions = compile_config(parsed, conf, entry="x")
        counts = _counts(ann, actions)
        # programname 'chat' (i%4==1, classes 0-7) with sev 6 (i%8==6)
        assert counts["hit"] == sum(
            1 for i in range(1000)
            if i % 10 <= 7 and i % 4 == 1 and i % 8 == 6
        )
        assert counts["noabs"] == 1000


class TestRulesetParserChain:
    """parser() instances + ruleset(parser=[...]) chains — byte-exact
    against the reference goldens tests/pmnull-basic.sh /
    pmnull-withparams.sh (same input line, same template, cmp output)."""

    LINE = ("<189>16261: May 28 16:09:56.185: %SYS-5-CONFIG_I: Configured"
            " from console by adminsepp on vty0 (10.23.214.226)")
    TPL = ("tag: %syslogtag%, pri: %pri%, syslogfacility: "
           "%syslogfacility%, syslogseverity: %syslogseverity% "
           "msg: %msg%")

    def _frame(self, spark):
        return spark.createDataFrame(
            [(self.LINE, "2014-06-01 00:00:00")], "text string, ts_s string"
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))

    def test_pmnull_withparams_golden(self, spark):
        from rsyslog_spark.config import apply_ruleset_parsers
        from rsyslog_spark.templates import compile_template

        conf = f'''
parser(name="custom.pmnull" type="pmnull" tag="mytag" syslogfacility="3" syslogseverity="1")
template(name="test" type="string" string="{self.TPL}")
ruleset(name="ruleset" parser=["custom.pmnull", "rsyslog.pmnull"]) {{
    action(type="omfile" file="/log/out.log" template="test")
}}
'''
        parsed, cfg = apply_ruleset_parsers(
            self._frame(spark), conf, "ruleset"
        )
        line = parsed.select(
            compile_template(cfg.templates["test"]).alias("line"),
            "parser", "accepted",
        ).first()
        assert line["accepted"] and line["parser"] == "custom.pmnull"
        assert line["line"] == (
            "tag: mytag, pri: 25, syslogfacility: 3, syslogseverity: 1 "
            "msg: " + self.LINE
        )

    def test_pmnull_basic_golden(self, spark):
        from rsyslog_spark.config import apply_ruleset_parsers
        from rsyslog_spark.templates import compile_template

        conf = f'''
parser(name="custom.pmnull.withOrigin" type="pmnull")
template(name="test" type="string" string="{self.TPL}")
ruleset(name="ruleset" parser=["custom.pmnull.withOrigin", "rsyslog.pmnull"]) {{
    action(type="omfile" file="/log/out.log" template="test")
}}
'''
        parsed, cfg = apply_ruleset_parsers(
            self._frame(spark), conf, "ruleset"
        )
        line = parsed.select(
            compile_template(cfg.templates["test"]).alias("line")
        ).first()["line"]
        assert line == (
            "tag: , pri: 13, syslogfacility: 1, syslogseverity: 5 "
            "msg: " + self.LINE
        )

    def test_cisco_then_null_first_accept(self, spark):
        from rsyslog_spark.config import apply_ruleset_parsers

        conf = '''
parser(name="cisco" type="pmciscoios")
ruleset(name="r" parser=["cisco", "rsyslog.pmnull"]) {
    action(type="omfile" file="/log/out.log")
}
'''
        rows = [
            (self.LINE, "2014-06-01 00:00:00"),          # cisco accepts
            ("<13>not cisco at all", "2014-06-01 00:00:00"),  # falls to null
        ]
        df = spark.createDataFrame(
            rows, "text string, ts_s string"
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        parsed, _ = apply_ruleset_parsers(df, conf, "r")
        by = {r["text"][:5]: r for r in parsed.collect()}
        c = by["<189>"]
        # PRI-compatible: cisco keeps the parsed <189> fac/sev
        assert (c["parser"], c["pri"], c["syslogfacility"],
                c["syslogseverity"]) == ("cisco", 189, 23, 5)
        assert c["syslogtag"] == "%SYS-5-CONFIG_I:"
        assert str(c["timereported"]) == "2014-05-28 16:09:56.185000"
        n = by["<13>n"]
        assert (n["parser"], n["pri"], n["msg"]) == (
            "rsyslog.pmnull", 13, "<13>not cisco at all"
        )

    def test_cisco_xr_instance_from_config_text(self, spark):
        # present.xr accepted as a parser() instance param (r4 — was a
        # loud rejection through r3); golden from the C walk
        from rsyslog_spark.config import apply_ruleset_parsers

        conf = '''
parser(name="xr" type="pmciscoios" present.xr="on")
ruleset(name="r" parser=["xr", "rsyslog.pmnull"]) {
    action(type="omfile" file="/log/out.log")
}
'''
        rows = [
            ("123: RP/0/RSP0/CPU0:Dec 13 02:01:05.637 UTC: pim[1000]: "
             "%ROUTING-IPV4_PIM-5-INTCHG : IPv4 PIM interface up",
             "2014-12-20 00:00:00"),
        ]
        df = spark.createDataFrame(
            rows, "text string, ts_s string"
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        parsed, _ = apply_ruleset_parsers(df, conf, "r")
        r = parsed.first()
        assert r["parser"] == "xr"
        assert r["syslogtag"] == "%ROUTING-IPV4_PIM-5-INTCHG:"
        assert str(r["timereported"]) == "2014-12-13 02:01:05.637000"
        assert r["msg"] == " IPv4 PIM interface up"

    def test_unknown_parser_is_config_error(self, spark):
        from rsyslog_spark.config import apply_ruleset_parsers

        conf = 'ruleset(name="r" parser=["nope"]) { stop }'
        with pytest.raises(ValueError, match="PARSER_NAME_NOT_FOUND"):
            apply_ruleset_parsers(self._frame(spark), conf, "r")


class TestGlobalVars:
    """$/ global variables (PROP_GLOBAL_VAR, runtime/msg.c:685-686):
    read-only config-load-time values; writes are a config error."""

    def test_read_in_filter_and_template(self, parsed):
        from rsyslog_spark.templates import set_global_vars

        set_global_vars({"env": "prod", "region": "eu-1"})
        try:
            conf = """
            template(name="gt" string="env=%$/env% r=%$/region% m=%msg%")
            ruleset(name="g") {
                if $/env == "prod" then {
                    action(type="omfile" file="/x/prod.log" template="gt")
                }
                if $/missing == "" then {
                    action(type="omfile" file="/x/unset.log")
                }
            }
            """
            ann, actions = compile_config(parsed, conf, entry="g")
            counts = _counts(ann, actions)
            n = parsed.count()
            # env == prod for every row; unset global coerces to ''
            assert counts["prod"] == n
            assert counts["unset"] == n
            prod = next(a for a in actions if a.sink == "prod")
            line = prod.output(ann).select(
                F.col(prod.out_col).alias("x")
            ).first()["x"]
            assert line.startswith("env=prod r=eu-1 m=")
        finally:
            set_global_vars(None)

    def test_write_rejected(self, parsed):
        with pytest.raises(ValueError, match="read-only"):
            parse_config(
                'ruleset(name="g") { set $/x = "1"; stop }'
            )
        with pytest.raises(ValueError, match="read-only"):
            parse_config('ruleset(name="g") { unset $/x; stop }')


class TestMMNormalizeConfig:
    """action(type="mmnormalize" ...) in config text -> Normalize
    statement in the routing walk (plugins/mmnormalize/mmnormalize.c
    newActInst + doAction). Sequential semantics: fields extracted by
    the action are visible to every LATER filter/template."""

    @pytest.fixture(scope="class")
    def df(self, spark):
        rows = [
            (1, "web01 ACCEPT from 10.0.0.9", "<13>raw1 DENY from 10.9.9.9"),
            (2, "web02 ACCEPT from 10.0.0.1", "<13>raw2 DENY from 10.9.9.8"),
            (3, "no rule matches this", "<13>rawgarbage"),
        ]
        return spark.createDataFrame(
            rows, "i long, msg string, rawmsg string"
        ).withColumn("parse_success", F.lit(True))

    CONF = """
    template(name="nt" type="string" string="h=%$!host% s=%$!src%")
    ruleset(name="n") {
        action(type="mmnormalize"
               rule=["rule=:%host:word% ACCEPT from %src:ipv4%"])
        if $!src == "10.0.0.9" then {
            action(type="omfile" file="/x/hit.log")
        }
        action(type="omfile" file="/x/all.log" template="nt")
    }
    """

    def test_extract_filter_template(self, df):
        ann, actions = compile_config(df, self.CONF, entry="n")
        counts = _counts(ann, actions)
        assert counts == {"hit": 1, "all": 3}
        out = next(a for a in actions if a.sink == "all")
        by = {r["i"]: r["x"] for r in out.output(ann)
              .select("i", F.col(out.out_col).alias("x")).collect()}
        assert by[1] == "h=web01 s=10.0.0.9"
        assert by[2] == "h=web02 s=10.0.0.1"
        assert by[3] == "h= s="           # unparsed -> fields unset

    def test_unparsed_event_and_parse_success(self, df):
        ann, _ = compile_config(df, self.CONF, entry="n")
        r3 = ann.filter(F.col("i") == 3).first()
        assert dict(r3["vars"]) == {
            "originalmsg": "no rule matches this",
            "unparsed-data": "no rule matches this",
        }
        # MsgSetParseSuccess(1) even for the unparsed event (r==0)
        assert r3["parse_success"] is True

    def test_path_prefix(self, df):
        conf = """
        ruleset(name="n") {
            action(type="mmnormalize" path="$!nrm"
                   rule=["rule=:%host:word% ACCEPT from %src:ipv4%"])
            if $!nrm!src startswith "10." then {
                action(type="omfile" file="/x/hit.log")
            }
        }
        """
        ann, actions = compile_config(df, conf, entry="n")
        assert _counts(ann, actions) == {"hit": 2}
        v = dict(ann.filter(F.col("i") == 1).first()["vars"])
        assert v == {"nrm!host": "web01", "nrm!src": "10.0.0.9"}

    def test_invalid_path_keeps_default(self, df):
        # reference LogErrors and keeps "$!" (mmnormalize.c:378-392)
        for bad in ("x", "e"):
            conf = ('ruleset(name="n") { action(type="mmnormalize" '
                    f'path="{bad}" '
                    'rule=["rule=:%h:word% ACCEPT from %s:ipv4%"]) }')
            ann, _ = compile_config(df, conf, entry="n")
            v = dict(ann.filter(F.col("i") == 1).first()["vars"])
            assert v == {"h": "web01", "s": "10.0.0.9"}

    def test_userawmsg(self, df):
        conf = """
        ruleset(name="n") {
            action(type="mmnormalize" useRawMsg="on"
                   rule=["rule=:<13>%tag:word% DENY from %src:ipv4%"])
        }
        """
        ann, _ = compile_config(df, conf, entry="n")
        v = dict(ann.filter(F.col("i") == 1).first()["vars"])
        assert v == {"tag": "raw1", "src": "10.9.9.9"}

    def test_variable_source(self, df):
        conf = """
        ruleset(name="n") {
            set $.src = "fw01 ACCEPT from 172.16.0.1";
            action(type="mmnormalize" variable="$.src"
                   rule=["rule=:%h:word% ACCEPT from %s:ipv4%"])
        }
        """
        ann, _ = compile_config(df, conf, entry="n")
        v = dict(ann.filter(F.col("i") == 1).first()["vars"])
        assert v["h"] == "fw01" and v["s"] == "172.16.0.1"

    def test_variable_ignored_with_userawmsg(self, df):
        # mmnormalize.c:399-404: raw message wins, variable ignored
        conf = """
        ruleset(name="n") {
            set $.src = "fw01 ACCEPT from 172.16.0.1";
            action(type="mmnormalize" useRawMsg="on" variable="$.src"
                   rule=["rule=:<13>%tag:word% DENY from %src:ipv4%"])
        }
        """
        ann, _ = compile_config(df, conf, entry="n")
        v = dict(ann.filter(F.col("i") == 2).first()["vars"])
        assert v["tag"] == "raw2" and v["src"] == "10.9.9.8"

    def test_merge_keeps_and_overwrites(self, df):
        # msgAddJSON: result keys replace same-named existing keys,
        # everything else in the tree survives
        conf = """
        ruleset(name="n") {
            set $!keep = "K";
            set $!src = "stale";
            action(type="mmnormalize"
                   rule=["rule=:%host:word% ACCEPT from %src:ipv4%"])
        }
        """
        ann, _ = compile_config(df, conf, entry="n")
        v = dict(ann.filter(F.col("i") == 1).first()["vars"])
        assert v["keep"] == "K" and v["src"] == "10.0.0.9"

    def test_rulebase_file(self, df, tmp_path):
        rb = tmp_path / "fw.rb"
        rb.write_text("# fw rules\n"
                      "rule=:%h:word% ACCEPT from %s:ipv4%\n")
        conf = ('ruleset(name="n") { action(type="mmnormalize" '
                f'rulebase="{rb}") }}')
        ann, _ = compile_config(df, conf, entry="n")
        v = dict(ann.filter(F.col("i") == 2).first()["vars"])
        assert v == {"h": "web02", "s": "10.0.0.1"}

    def test_param_validation(self, df):
        with pytest.raises(ValueError, match="only one rulebase"):
            parse_config('ruleset(name="n") { action(type="mmnormalize" '
                         'rulebase="/x.rb" rule=["rule=:%a:word%"]) }')
        with pytest.raises(ValueError, match="rulebase needed"):
            parse_config('ruleset(name="n") { '
                         'action(type="mmnormalize") }')
        with pytest.raises(ValueError, match="could not be loaded"):
            parse_config('ruleset(name="n") { action(type="mmnormalize" '
                         'rulebase="/nonexistent/x.rb") }')

    def test_rejected_in_foreach(self, df):
        conf = """
        ruleset(name="n") {
            foreach ($.x in $!arr) do {
                action(type="mmnormalize" rule=["rule=:%a:word%"])
            }
        }
        """
        src = df.withColumn(
            "vars", F.create_map(F.lit("arr"), F.lit("[1,2]"))
        )
        with pytest.raises(ValueError, match="foreach"):
            compile_config(src, conf, entry="n")


class TestPmNormalizeChain:
    """pmnormalize parser instances (plugins/pmnormalize/pmnormalize.c)
    — byte-exact against the reference goldens
    tests/pmnormalize-basic.sh / pmnormalize-rule.sh (same input lines,
    same template, cmp output)."""

    TPL = ("host: %hostname%, ip: %fromhost-ip%, tag: %syslogtag%, "
           "pri: %pri%, syslogfacility: %syslogfacility%, "
           "syslogseverity: %syslogseverity% msg: %msg%")

    def _frame(self, spark, lines):
        rows = [(ln, "2017-06-12 00:00:00") for ln in lines]
        return spark.createDataFrame(
            rows, "text string, ts_s string"
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))

    def _render(self, spark, conf, lines):
        from rsyslog_spark.config import apply_ruleset_parsers
        from rsyslog_spark.templates import compile_template

        parsed, cfg = apply_ruleset_parsers(
            self._frame(spark, lines), conf, "ruleset"
        )
        return [
            r["line"] for r in parsed.select(
                compile_template(cfg.templates["test"]).alias("line")
            ).collect()
        ]

    def test_basic_golden(self, spark, tmp_path):
        # tests/pmnormalize-basic.sh + testsuites/pmnormalize_basic.rulebase
        rb = tmp_path / "pmnormalize_basic.rulebase"
        rb.write_text(
            "rule=:<%pri:number%> %hostname:word% %syslogtag:char-to:"
            "\\x3a%: is no longer listening on %fromhost-ip:ipv4% "
            "%msg:rest%\n"
        )
        conf = f'''
parser(name="custom.pmnormalize" type="pmnormalize" rulebase="{rb}")
template(name="test" type="string" string="{self.TPL}")
ruleset(name="ruleset" parser="custom.pmnormalize") {{
    action(type="omfile" file="/log/out.log" template="test")
}}
'''
        got = self._render(spark, conf, [
            "<189> ubuntu tag1: is no longer listening on 127.0.0.1 test",
            "<112> debian tag2: is no longer listening on "
            "255.255.255.255 test",
            "<177> centos tag3: is no longer listening on "
            "192.168.0.9 test",
        ])
        assert got == [
            "host: ubuntu, ip: 127.0.0.1, tag: tag1, pri: 189, "
            "syslogfacility: 23, syslogseverity: 5 msg: test",
            "host: debian, ip: 255.255.255.255, tag: tag2, pri: 112, "
            "syslogfacility: 14, syslogseverity: 0 msg: test",
            "host: centos, ip: 192.168.0.9, tag: tag3, pri: 177, "
            "syslogfacility: 22, syslogseverity: 1 msg: test",
        ]

    def test_rule_array_golden(self, spark):
        # tests/pmnormalize-rule.sh: two inline rules, either field
        # order, rule= as an array parameter
        conf = ('''
parser(name="custom.pmnormalize" type="pmnormalize" rule=["rule=:<%pri:number%> %fromhost-ip:ipv4% %hostname:word% %syslogtag:char-to:\\\\x3a%: %msg:rest%", "rule=:<%pri:number%> %hostname:word% %fromhost-ip:ipv4% %syslogtag:char-to:\\\\x3a%: %msg:rest%"])
template(name="test" type="string" string="''' + self.TPL + '''")
ruleset(name="ruleset" parser="custom.pmnormalize") {
    action(type="omfile" file="/log/out.log" template="test")
}
''')
        got = self._render(spark, conf, [
            "<189> 127.0.0.1 ubuntu tag1: this is a test message",
            "<112> 255.255.255.255 debian tag2: this is a test message",
            "<177> centos 192.168.0.9 tag3: this is a test message",
        ])
        assert got == [
            "host: ubuntu, ip: 127.0.0.1, tag: tag1, pri: 189, "
            "syslogfacility: 23, syslogseverity: 5 msg: this is a "
            "test message",
            "host: debian, ip: 255.255.255.255, tag: tag2, pri: 112, "
            "syslogfacility: 14, syslogseverity: 0 msg: this is a "
            "test message",
            "host: centos, ip: 192.168.0.9, tag: tag3, pri: 177, "
            "syslogfacility: 22, syslogseverity: 1 msg: this is a "
            "test message",
        ]

    def test_unmatched_keeps_raw_and_pri(self, spark):
        # ln_normalize's unparsed event carries only unknown property
        # names -> nothing changes: MSG stays the full raw from offset
        # 0 (MsgSetMSGoffs(pMsg,0)), PRI stays the header parse
        conf = '''
parser(name="n" type="pmnormalize" rule=["rule=:%h:word% UP"])
ruleset(name="ruleset" parser="n") { stop }
'''
        from rsyslog_spark.config import apply_ruleset_parsers

        parsed, _ = apply_ruleset_parsers(
            self._frame(spark, ["<13>no rule matches this"]),
            conf, "ruleset",
        )
        r = parsed.first()
        assert r["accepted"] and r["parser"] == "n"
        assert r["msg"] == "<13>no rule matches this"
        assert (r["pri"], r["syslogfacility"], r["syslogseverity"]) == \
            (13, 1, 5)
        assert r["hostname"] is None and r["fromhost_ip"] is None

    def test_unknown_fields_ignored(self, spark):
        # msg.c:4663-4666: names outside the well-known set are ignored
        conf = '''
parser(name="n" type="pmnormalize"
       rule=["rule=:%app-name:word% %syslogseverity:number% %msg:rest%"])
ruleset(name="ruleset" parser="n") { stop }
'''
        from rsyslog_spark.config import apply_ruleset_parsers

        parsed, _ = apply_ruleset_parsers(
            self._frame(spark, ["<13>myapp 2 hello world"]),
            conf, "ruleset",
        )
        r = parsed.first()
        # app-name ignored; severity 2 applied over facility from <13>
        assert r["app_name"] is None
        assert (r["syslogfacility"], r["syslogseverity"]) == (1, 2)
        assert r["msg"] == "hello world"

    def test_severity_range_gate(self, spark):
        # msg.c:4630-4635: out-of-range severity is ignored
        conf = '''
parser(name="n" type="pmnormalize"
       rule=["rule=:<13>sev %syslogseverity:number% %msg:rest%"])
ruleset(name="ruleset" parser="n") { stop }
'''
        from rsyslog_spark.config import apply_ruleset_parsers

        parsed, _ = apply_ruleset_parsers(
            self._frame(spark, ["<13>sev 9 over range"]), conf, "ruleset"
        )
        r = parsed.first()
        assert (r["syslogfacility"], r["syslogseverity"]) == (1, 5)

    def test_pri_clamp_invld(self, spark):
        # msgSetPRI (msg.c:1609-1615): pri > 191 -> LOG_PRI_INVLD 199
        conf = '''
parser(name="n" type="pmnormalize"
       rule=["rule=:<13>p %pri:number% %msg:rest%"])
ruleset(name="ruleset" parser="n") { stop }
'''
        from rsyslog_spark.config import apply_ruleset_parsers

        parsed, _ = apply_ruleset_parsers(
            self._frame(spark, ["<13>p 500 clamped"]), conf, "ruleset"
        )
        r = parsed.first()
        assert (r["pri"], r["syslogfacility"], r["syslogseverity"]) == \
            (199, 24, 7)

    def test_param_validation(self, spark):
        from rsyslog_spark.config import apply_ruleset_parsers

        df = self._frame(spark, ["<13>x"])
        # pmnormalize-neither_rule_rulebase.sh
        with pytest.raises(ValueError, match="either parameter"):
            apply_ruleset_parsers(
                df,
                'parser(name="n" type="pmnormalize")\n'
                'ruleset(name="r" parser="n") { stop }',
                "r",
            )
        # pmnormalize-rule_and_rulebase.sh
        with pytest.raises(ValueError, match="not both"):
            apply_ruleset_parsers(
                df,
                'parser(name="n" type="pmnormalize" rulebase="/x.rb" '
                'rule=["rule=:%a:word%"])\n'
                'ruleset(name="r" parser="n") { stop }',
                "r",
            )
        # pmnormalize-invld-rulebase.sh
        with pytest.raises(ValueError, match="could not be loaded"):
            apply_ruleset_parsers(
                df,
                'parser(name="n" type="pmnormalize" '
                'rulebase="/nonexistent/x.rb")\n'
                'ruleset(name="r" parser="n") { stop }',
                "r",
            )
        # bare default instance: resolves, then rulebase-mandatory
        with pytest.raises(ValueError, match="either parameter"):
            apply_ruleset_parsers(
                df,
                'ruleset(name="r" parser="rsyslog.pmnormalize") { stop }',
                "r",
            )
        # rawmsg replacement not modeled — loud
        with pytest.raises(ValueError, match="rawmsg"):
            apply_ruleset_parsers(
                df,
                'parser(name="n" type="pmnormalize" '
                'rule=["rule=:%rawmsg:rest%"])\n'
                'ruleset(name="r" parser="n") { stop }',
                "r",
            )


class TestRulebaseRegexAndAnnotate:
    """liblognorm regex field_type (allowRegex gate) + annotate=
    constants — parity with tests/mmnormalize_regex.sh and the
    mmnormalize_processing_tests.rulebase WIN rule."""

    @pytest.fixture(scope="class")
    def df(self, spark):
        # msg as the default rfc3164 parse would leave it for the
        # mmnormalize_regex.sh input line
        rows = [(1, "http host ports are 192.168.1.2:80, 192.168.1.3, "
                    "192.168.1.4:443, 192.168.1.5 etc")]
        return spark.createDataFrame(rows, "i long, msg string")

    RB_REGEX = ('rule=:http host ports are '
                '%hps:regex:([0-9.\\\\x3a]+(, )?)+% etc')

    def test_regex_golden(self, df):
        # content_check 'host and port list: 192.168.1.2:80, ...'
        conf = f'''
        module(load="mmnormalize" allowRegex="on")
        template(name="hosts_and_ports" type="string"
                 string="host and port list: %$!hps%")
        ruleset(name="r") {{
            action(type="mmnormalize" rule=["{self.RB_REGEX}"])
            action(type="omfile" file="/x/out.log"
                   template="hosts_and_ports")
        }}
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        line = a.output(ann).select(F.col(a.out_col).alias("x")).first()
        assert line["x"] == (
            "host and port list: 192.168.1.2:80, 192.168.1.3, "
            "192.168.1.4:443, 192.168.1.5"
        )

    def test_regex_disabled_skips_rule(self, df):
        # tests/mmnormalize_regex_disabled.sh + _defaulted.sh: without
        # allowRegex="on" the regex rule is SKIPPED at load (the daemon
        # runs, the event is just unparsed -> no extraction; the
        # reference asserts the output is missing the IPs)
        conf = f'''
        ruleset(name="r") {{
            action(type="mmnormalize" rule=["{self.RB_REGEX}"])
        }}
        '''
        ann, _ = compile_config(df, conf, entry="r")
        v = dict(ann.first()["vars"])
        assert "hps" not in v and "originalmsg" in v

    def test_inner_groups_dont_shift_fields(self, spark):
        # a regex field with nested groups followed by a plain field:
        # the later field must still land (group renumbering guard)
        from rsyslog_spark.mods import parse_rulebase, rulebase_map_expr

        rules = parse_rulebase(
            "rule=:%a:regex:(x+(y)?)+% %b:word%", allow_regex=True
        )
        df = spark.createDataFrame([("xxy end",)], "msg string")
        got = dict(
            df.select(
                rulebase_map_expr(F.col("msg"), rules).alias("m")
            ).first()["m"]
        )
        assert got == {"a": "xxy", "b": "end"}

    def test_annotate_win_rule(self, spark):
        # mmnormalize_processing_tests.rulebase WIN rule + annotation
        # over the processing_test1 input line (rawmsg source)
        from rsyslog_spark.mods import parse_rulebase, rulebase_map_expr

        rb = (
            "rule=WIN:<%n1:number%>1 %-:date-rfc5424% %n2:word% "
            "%v_tag:word% - - - %v_svc:word% %v_ret:word% %v_os:word% "
            "%v_msg:rest%\n"
            'annotate=WIN:+v_analytics_prefix="EvntSLog: "\n'
        )
        raw = ("<37>1 2017-03-08T12:53:47+02:00 Host1.domain.com "
               "Security - - - SER1 M01 WIN [AUF] Wed Mar 08 11:53:48 "
               "2017: N\\A/Security/Host1.domain.com/"
               "Microsoft-Windows-Security-Auditing (5152) - message")
        df = spark.createDataFrame([(raw,)], "msg string")
        got = dict(
            df.select(
                rulebase_map_expr(
                    F.col("msg"), parse_rulebase(rb)
                ).alias("m")
            ).first()["m"]
        )
        assert got["n1"] == "37"
        assert got["n2"] == "Host1.domain.com"
        assert got["v_tag"] == "Security"
        assert (got["v_svc"], got["v_ret"], got["v_os"]) == \
            ("SER1", "M01", "WIN")
        assert got["v_msg"].startswith("[AUF] Wed Mar 08")
        # the annotation constant rides the matched event
        assert got["v_analytics_prefix"] == "EvntSLog: "

    def test_annotate_only_on_tagged_rule(self, spark):
        from rsyslog_spark.mods import parse_rulebase, rulebase_map_expr

        rb = ("rule=A:%x:word% one\n"
              "rule=B:%x:word% two\n"
              'annotate=A:+extra="E"\n')
        df = spark.createDataFrame(
            [("foo one",), ("bar two",)], "msg string"
        )
        rows = df.select(
            "msg",
            rulebase_map_expr(F.col("msg"), parse_rulebase(rb)).alias("m"),
        ).collect()
        by = {r["msg"]: dict(r["m"]) for r in rows}
        assert by["foo one"] == {"x": "foo", "extra": "E"}
        assert by["bar two"] == {"x": "bar"}     # B has no annotation

    def test_bad_annotate_rejected(self):
        from rsyslog_spark.mods import parse_rulebase

        with pytest.raises(ValueError, match="annotate"):
            parse_rulebase("annotate=A:bad-syntax")
        with pytest.raises(ValueError, match="only rule="):
            parse_rulebase("prefix=%d:date-rfc3164%")


class TestRulebaseTokenized:
    """liblognorm tokenized/char-sep field types — byte-exact against
    tests/mmnormalize_tokenized.sh (same rulebase file text, same
    post-rfc3164-parse msg payloads, cmp the JSON-array renderings)."""

    # testsuites/mmnormalize_tokenized.rulebase verbatim
    RB = (
        "rule=only_ips:%only_ips:tokenized:, :ipv4%\n"
        "rule=local_ips:local ips are %local_ips:tokenized:, :ipv4%\n"
        "rule=external_ips:%external_ips:tokenized:, :ipv4% are "
        "external ips\n"
        "rule=paths:for %user:char-to:@%@localhost path was "
        "%fragments:tokenized:\\x3a:char-sep:\\x3a%\n"
        "rule=recur_comma_colon_nos:comma separated list of colon "
        "separated numbers: %some_nos:tokenized:, :tokenized: \\x3a "
        ":tokenized:#:number%\n"
    )

    # msg payloads after the rfc3164 TAG '%PIX-7-710005:' is consumed
    MSGS = [
        "10.20.30.40, 50.60.70.80, 90.100.110.120, 130.140.150.160",
        "local ips are 192.168.1.2, 192.168.1.3, 192.168.1.4",
        "10.20.30.40, 50.60.70.80, 190.200.210.220 are external ips",
        "for foo@localhost path was /bin:/usr/local/bin:/usr/bin",
        "comma separated list of colon separated numbers: "
        "10, 20 : 30#40#50 : 60#70#80, 90 : 100",
    ]

    @pytest.fixture(scope="class")
    def maps(self, spark):
        from rsyslog_spark.mods import parse_rulebase, rulebase_map_expr

        df = spark.createDataFrame([(m,) for m in self.MSGS],
                                   "msg string")
        rows = df.select(
            "msg",
            rulebase_map_expr(
                F.col("msg"), parse_rulebase(self.RB)
            ).alias("m"),
        ).collect()
        return {r["msg"]: dict(r["m"]) for r in rows}

    def test_flat_ip_lists(self, maps):
        # content_check lines 1-3 of mmnormalize_tokenized.sh
        assert maps[self.MSGS[0]]["only_ips"] == (
            '[ "10.20.30.40", "50.60.70.80", "90.100.110.120", '
            '"130.140.150.160" ]'
        )
        assert maps[self.MSGS[1]]["local_ips"] == (
            '[ "192.168.1.2", "192.168.1.3", "192.168.1.4" ]'
        )
        assert maps[self.MSGS[2]]["external_ips"] == (
            '[ "10.20.30.40", "50.60.70.80", "190.200.210.220" ]'
        )

    def test_char_sep_paths_with_json_escapes(self, maps):
        # content_check '[ "\/bin", "\/usr\/local\/bin", "\/usr\/bin" ] foo'
        got = maps[self.MSGS[3]]
        assert got["user"] == "foo"
        assert got["fragments"] == (
            '[ "\\/bin", "\\/usr\\/local\\/bin", "\\/usr\\/bin" ]'
        )

    def test_three_level_recursion(self, maps):
        # content_check '[ [ [ "10" ] ], [ [ "20" ], [ "30", "40", "50" ],
        #                 [ "60", "70", "80" ] ], [ [ "90" ], [ "100" ] ] ]'
        assert maps[self.MSGS[4]]["some_nos"] == (
            '[ [ [ "10" ] ], [ [ "20" ], [ "30", "40", "50" ], '
            '[ "60", "70", "80" ] ], [ [ "90" ], [ "100" ] ] ]'
        )

    def test_first_match_order_preserved(self, maps):
        # the first rule is only_ips: line 2 must NOT fall into it
        # (leading 'local ips are ' breaks the pure-ip-list pattern)
        assert "only_ips" not in maps[self.MSGS[1]]

    def test_tokenized_spec_errors(self):
        from rsyslog_spark.mods import parse_rulebase

        with pytest.raises(ValueError, match="tokenized needs"):
            parse_rulebase("rule=:%x:tokenized%")
        with pytest.raises(ValueError, match="tokenized needs"):
            parse_rulebase("rule=:%x:tokenized:, %")


class TestListTemplates:
    """template(type="list") { constant()/property() } — the modern
    template form (template.c:1380-1700), folded into the same option
    pipeline as the text form. Capstone: the reference's
    mmnormalize_variable.sh flow end to end (list template with a
    regex property -> exec_template -> set $.var -> mmnormalize
    variable=... -> rulebase extraction), content_check parity."""

    @pytest.fixture(scope="class")
    def df(self, spark):
        rows = [(1, " at Thu Oct 30 13:20:18 IST 2014 random number is "
                    "19597", "h1", "a/b/c\nX")]
        return spark.createDataFrame(
            rows, "i long, msg string, hostname string, payload string"
        )

    def test_constant_property_render(self, df):
        conf = '''
        template(name="t" type="list") {
            constant(value="host=")
            property(name="hostname")
            constant(value=" msg=")
            property(name="msg" position.from="2" position.to="3")
        }
        ruleset(name="r") { action(type="omfile" file="/x/o.log" template="t") }
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        line = a.output(ann).select(F.col(a.out_col).alias("x")).first()
        assert line["x"] == "host=h1 msg=at"

    def test_property_options(self, df):
        conf = '''
        template(name="t" type="list") {
            property(name="hostname" caseConversion="upper")
            constant(value=" ")
            property(name="payload" securePath="replace" dropLastLF="on")
            constant(value=" ")
            property(name="payload" controlCharacters="drop"
                     position.from="1" position.to="5")
        }
        ruleset(name="r") { action(type="omfile" file="/x/o.log" template="t") }
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        line = a.output(ann).select(F.col(a.out_col).alias("x")).first()
        # securePath=replace: '/' -> '_'; drop-cc strips the \n
        assert line["x"] == "H1 a_b_c\nX a/b/c"

    def test_field_extraction(self, df):
        conf = '''
        template(name="t" type="list") {
            property(name="payload" field.number="2" field.delimiter="47")
        }
        ruleset(name="r") { action(type="omfile" file="/x/o.log" template="t") }
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        line = a.output(ann).select(F.col(a.out_col).alias("x")).first()
        assert line["x"] == "b"        # split on '/' (code 47), field 2

    def test_unsupported_param_loud(self, df):
        conf = '''
        template(name="t" type="list") {
            property(name="msg" datatype="number")
        }
        ruleset(name="r") { action(type="omfile" file="/x/o.log" template="t") }
        '''
        with pytest.raises(ValueError, match="unsupported list-template"):
            compile_config(df, conf, entry="r")

    def test_mmnormalize_variable_e2e(self, df):
        # tests/mmnormalize_variable.sh end to end; input line's msg
        # after the rfc3164 TAG '%PIX-7-710005:' is consumed
        conf = '''
        template(name="time_fragment" type="list") {
            property(name="msg" regex.Expression="[0-9]{2}:[0-9]{2}:[0-9]{2} [A-Z]+" regex.Type="ERE" regex.Match="0")
        }
        template(name="outfmt" type="string" string="h:%$!hr% m:%$!min% s:%$!sec%")
        ruleset(name="r") {
            set $.time_frag = exec_template("time_fragment");
            action(type="mmnormalize" variable="$.time_frag"
                   rule=["rule=hms:%hr:number%:%min:number%:%sec:number% %zone:word%"])
            action(type="omfile" file="/x/o.log" template="outfmt")
        }
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        line = a.output(ann).select(F.col(a.out_col).alias("x")).first()
        assert line["x"] == "h:13 m:20 s:18"   # content_check line

    def test_regex_nomatch_modes(self, df):
        conf = '''
        template(name="t" type="list") {
            property(name="msg" regex.Expression="zzz" regex.Type="ERE")
            constant(value="|")
            property(name="msg" regex.Expression="zzz" regex.nomatchmode="BLANK")
            constant(value="|")
            property(name="msg" regex.Expression="zzz" regex.nomatchmode="ZERO")
        }
        ruleset(name="r") { action(type="omfile" file="/x/o.log" template="t") }
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        line = a.output(ann).select(F.col(a.out_col).alias("x")).first()
        assert line["x"] == "**NO MATCH**||0"


class TestIncludeAndGlobal:
    """include(file=/text=) object (includeProcessCnf,
    rainerscript.c:5476-5550) + $IncludeConfig legacy directive +
    global()/main_queue() parameter objects."""

    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.createDataFrame(
            [(1, "hello world", 3)], "i long, msg string, syslogseverity int"
        )

    def test_include_text_splice(self, df):
        conf = '''
        include(text="ruleset(name=\\"r\\") { action(type=\\"omfile\\" file=\\"/x/a.log\\") }")
        '''
        ann, actions = compile_config(df, conf, entry="r")
        assert [a.sink for a in actions] == ["a"]

    def test_include_file_glob_sorted(self, df, tmp_path):
        (tmp_path / "10-first.conf").write_text(
            'ruleset(name="r") {\n'
            '    action(type="omfile" file="/x/one.log")\n'
        )
        (tmp_path / "20-second.conf").write_text(
            '    action(type="omfile" file="/x/two.log")\n}\n'
        )
        conf = f'include(file="{tmp_path}/*.conf")'
        ann, actions = compile_config(df, conf, entry="r")
        # glob order is sorted -> the split ruleset reassembles 1 then 2
        assert [a.sink for a in actions] == ["one", "two"]

    def test_include_legacy_directive_and_nesting(self, df, tmp_path):
        inner = tmp_path / "inner.conf"
        inner.write_text('$template legt,"%msg%"\n'
                         'action(type="omfile" file="/x/in.log")\n')
        outer = tmp_path / "outer.conf"
        outer.write_text(f"$IncludeConfig {inner}\n")
        conf = f'$IncludeConfig {outer}\n' \
               'action(type="omfile" file="/x/top.log")'
        cfg = parse_config(conf)
        assert "legt" in cfg.templates        # legacy line inside include
        ann, actions = compile_config(df, conf)
        assert [a.sink for a in actions] == ["in", "top"]

    def test_include_missing(self, df, tmp_path):
        # default mode aborts on a missing file; optional tolerates it
        with pytest.raises(ValueError, match="could not be accessed"):
            parse_config(f'include(file="{tmp_path}/nope/*.conf")')
        cfg = parse_config(
            f'include(file="{tmp_path}/nope/*.conf" mode="optional") '
            'action(type="omfile" file="/x/t.log")'
        )
        assert len(cfg.main) == 1
        # legacy $IncludeConfig tolerates a non-matching glob
        cfg2 = parse_config(f"$IncludeConfig {tmp_path}/nope/*.conf\n"
                            'action(type="omfile" file="/x/t.log")')
        assert len(cfg2.main) == 1

    def test_include_param_validation(self):
        with pytest.raises(ValueError, match="both are set"):
            parse_config('include(file="/a" text="x")')
        with pytest.raises(ValueError, match="either 'file' or 'text'"):
            parse_config('include(mode="optional")')
        with pytest.raises(ValueError, match="invalid include mode"):
            parse_config('include(file="/a" mode="sometimes")')

    def test_global_and_main_queue_recorded(self, df):
        conf = '''
        global(workDirectory="/var/spool/rsyslog" maxMessageSize="64k")
        main_queue(queue.size="100000")
        ruleset(name="r") { action(type="omfile" file="/x/a.log") }
        '''
        cfg = parse_config(conf)
        kinds = [k for k, _ in cfg.globals]
        assert kinds == ["global", "main_queue"]
        assert cfg.globals[0][1]["workdirectory"] == "/var/spool/rsyslog"
        assert cfg.globals[1][1]["queue.size"] == "100000"
        ann, actions = compile_config(df, conf, entry="r")
        assert [a.sink for a in actions] == ["a"]


class TestMMNormalizeProcessingE2E:
    """The reference's mmnormalize_processing_test2.sh flow end to end
    (the PCI forwarding pipeline: useRawMsg mmnormalize with the full
    processing rulebase, annotation enrichment, exec_template
    defaulting cascade, three templated sinks). The file-path and
    analytics output lines are asserted byte-exact; the t_file_record
    line echoes the ORIGINAL timestamp offset/precision, which this
    engine normalizes to UTC microseconds (documented divergence — the
    session pins UTC), so it is checked structurally instead."""

    RAW = ("<166>2017-03-08T12:18:47.165Z Host2.domain.com Process1: "
           "[FFB87B70 verbose Process1HalCnxHostagent "
           "opID=WFU-abfbbece] [WaitForUpdatesDone] Completed callback")

    # testsuites/mmnormalize_processing_tests.rulebase verbatim
    RULEBASE = r"""rule=WIN:<%n1:number%>1 %-:date-rfc5424% %n2:word% %v_tag:word% - - - %v_svc:word% %v_ret:word% %v_os:word% %v_msg:rest%
annotate=WIN:+v_analytics_prefix="EvntSLog: "

rule=ESX:<%-:number%>%-:date-rfc5424% %-:word% %v_tag:char-to:\x3a%: %v_msg:rest%
annotate=ESX:+v_svc="SER2"
annotate=ESX:+v_ret="Y01"
annotate=ESX:+v_file="esx"
annotate=ESX:+v_os="ESX"

rule=LNX:<%-:number%>%-:date-rfc3164% %v_hostname:word% %v_tag:char-to:\x3a%: {%v_svc:char-to:\x2e%.%v_file:word% %v_ret:word% %v_os:word% [%v_forward:char-to:\x5d%]} %v_msg:rest%
rule=LNX:<%-:number%>%-:date-rfc3164% %v_hostname:word% %v_tag:char-to:\x20% {%v_svc:char-to:\x2e%.%v_file:word% %v_ret:word% %v_os:word% [%v_forward:char-to:\x5d%]} %v_msg:rest%

rule=FromFile:<%n1:number%>%-:date-rfc3164% %v_hostname:word% Process2: {%v_svc:char-to:\x2e%.%-:word% %v_ret:word% %v_os:word% [%v_forward:char-to:\x5d%]} (/%v_file:char-to:\x29%) %v_msg:rest%
annotate=FromFile:+v_tag="Process2"
"""

    def _conf(self, rb_path):
        return f'''
template(name="t_file_record" type="string" string="%timestamp:::date-rfc3339% %timestamp:::date-rfc3339% %hostname% %$!v_tag% %$!v_msg%")
template(name="t_file_path" type="string" string="/sb/logs/incoming/%$year%/%$month%/%$day%/svc_%$!v_svc%/ret_%$!v_ret%/os_%$!v_os%/%fromhost-ip%/r_relay1/%$!v_file:::lowercase%.gz")
template(name="t_fromhost-ip" type="string" string="%fromhost-ip%")
template(name="t_analytics_msg_default" type="string" string="%$!v_analytics_prefix%%rawmsg-after-pri%")
template(name="t_analytics_tag_prefix" type="string" string="%$!v_tag%: ")
template(name="t_analytics_msg_normalized" type="string" string="%timereported% %$!v_hostname% %$!v_analytics_prefix%%$!v_msg%")
template(name="t_analytics" type="string" string="[][][%$!v_fromhost-ip%][%timestamp:::date-unixtimestamp%][] %$!v_analytics_msg%")

ruleset(name="ruleset1") {{
    action(type="mmnormalize" rulebase="{rb_path}" useRawMsg="on")
    if ($!v_file == "") then {{
        set $!v_file = $!v_tag;
    }}
    action(type="omfile" File="/out/record.log" template="t_file_record")
    action(type="omfile" File="/out/path.log" template="t_file_path")

    set $!v_forward = "PCI";

    if ($!v_forward contains "PCI") then {{
        if ($!v_fromhost-ip == "") then {{
            set $!v_fromhost-ip = exec_template("t_fromhost-ip");
        }}
        if ($!v_msg == "" or $!v_tag == "") then {{
            set $!v_analytics_msg = exec_template("t_analytics_msg_default");
        }} else {{
            if ($!v_analytics_prefix == "") then {{
                set $!v_analytics_prefix = exec_template("t_analytics_tag_prefix");
            }}
            if ($!v_hostname == "") then {{
                set $!v_hostname = exec_template("t_fromhost-ip");
            }}
            set $!v_analytics_msg = exec_template("t_analytics_msg_normalized");
        }}
        action(type="omfile" File="/out/analytics.log" template="t_analytics")
    }}
}}
'''

    def test_esx_flow(self, spark, tmp_path):
        rb = tmp_path / "processing.rulebase"
        rb.write_text(self.RULEBASE)
        ts = "2017-03-08 12:18:47.165"
        df = (
            spark.createDataFrame(
                [(1, self.RAW, self.RAW.split(">", 1)[1], "Host2.domain.com",
                  "127.0.0.1")],
                "i long, rawmsg string, rawmsg_after_pri string, "
                "hostname string, fromhost_ip string",
            )
            .withColumn("timereported", F.lit(ts).cast("timestamp"))
            .withColumn("timegenerated",
                        F.lit("2017-03-08 12:18:47").cast("timestamp"))
        )
        ann, actions = compile_config(df, self._conf(rb), entry="ruleset1")
        out = {}
        for a in actions:
            out[a.sink] = a.output(ann).select(
                F.col(a.out_col).alias("x")
            ).first()["x"]
        # golden line 2 of the reference's cmp block, byte-exact
        assert out["path"] == (
            "/sb/logs/incoming/2017/03/08/svc_SER2/ret_Y01/os_ESX/"
            "127.0.0.1/r_relay1/esx.gz"
        )
        # golden line 3, byte-exact (unixtime of 2017-03-08T12:18:47Z)
        assert out["analytics"] == (
            "[][][127.0.0.1][1488975527][] Mar  8 12:18:47 127.0.0.1 "
            "Process1: [FFB87B70 verbose Process1HalCnxHostagent "
            "opID=WFU-abfbbece] [WaitForUpdatesDone] Completed callback"
        )
        # line 1: same fields, UTC-normalized timestamp rendering
        # (reference echoes '...165Z'; engine pins UTC microseconds)
        assert out["record"] == (
            "2017-03-08T12:18:47.165000+00:00 "
            "2017-03-08T12:18:47.165000+00:00 Host2.domain.com "
            "Process1 [FFB87B70 verbose Process1HalCnxHostagent "
            "opID=WFU-abfbbece] [WaitForUpdatesDone] Completed callback"
        )

    def test_win_rule_takes_the_other_branch(self, spark, tmp_path):
        # test1's WIN input: v_file is unset -> falls back to v_tag;
        # the annotated analytics prefix survives the defaulting cascade
        rb = tmp_path / "processing.rulebase"
        rb.write_text(self.RULEBASE)
        raw = ("<37>1 2017-03-08T12:53:47+02:00 Host1.domain.com "
               "Security - - - SER1 M01 WIN [AUF] Wed Mar 08 11:53:48 "
               "2017: N\\A/Security/Host1.domain.com/"
               "Microsoft-Windows-Security-Auditing (5152) - message")
        df = (
            spark.createDataFrame(
                [(1, raw, raw.split(">", 1)[1], "Host1.domain.com",
                  "127.0.0.1")],
                "i long, rawmsg string, rawmsg_after_pri string, "
                "hostname string, fromhost_ip string",
            )
            .withColumn("timereported",
                        F.lit("2017-03-08 10:53:47").cast("timestamp"))
            .withColumn("timegenerated",
                        F.lit("2017-03-08 12:53:47").cast("timestamp"))
        )
        ann, actions = compile_config(df, self._conf(rb), entry="ruleset1")
        path = next(a for a in actions if a.sink == "path")
        line = path.output(ann).select(
            F.col(path.out_col).alias("x")
        ).first()["x"]
        # golden line 2 of test1: svc_SER1/ret_M01/os_WIN, v_file
        # defaulted from v_tag 'Security' -> lowercased 'security'
        assert line == (
            "/sb/logs/incoming/2017/03/08/svc_SER1/ret_M01/os_WIN/"
            "127.0.0.1/r_relay1/security.gz"
        )


class TestReviewRegressions:
    """Pinned fixes from the round-4 review pass."""

    def test_regex_class_with_paren(self, spark):
        # '(' inside a character class is a literal — the
        # non-capturing rewrite must not corrupt the class
        from rsyslog_spark.mods import parse_rulebase, rulebase_map_expr

        rules = parse_rulebase("rule=:%f:regex:[(]x% %r:rest%",
                               allow_regex=True)
        df = spark.createDataFrame(
            [("(x tail",), ("?x tail",)], "msg string"
        )
        rows = df.select(
            "msg",
            rulebase_map_expr(F.col("msg"), parse_rulebase(
                "rule=:%f:regex:[(]x% %r:rest%", allow_regex=True
            )).alias("m"),
        ).collect()
        by = {r["msg"]: dict(r["m"]) for r in rows}
        assert by["(x tail"].get("f") == "(x"
        assert "f" not in by["?x tail"]      # '?' must NOT match [(]

    def test_chain_preserves_reception_properties(self, spark):
        # a pmnull chain must not null a pre-existing hostname /
        # fromhost_ip (reception-layer state parsers never clear)
        from rsyslog_spark.config import apply_ruleset_parsers

        df = spark.createDataFrame(
            [("<13>hello", "2020-01-01 00:00:00", "recvhost", "9.9.9.9")],
            "text string, ts_s string, hostname string, fromhost_ip string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        parsed, _ = apply_ruleset_parsers(
            df, 'ruleset(name="r" parser="rsyslog.pmnull") { stop }', "r"
        )
        r = parsed.first()
        assert r["hostname"] == "recvhost"
        assert r["fromhost_ip"] == "9.9.9.9"

    def test_duplicate_annotations_last_wins(self, spark):
        from rsyslog_spark.mods import parse_rulebase, rulebase_map_expr

        rb = ('rule=A,B:%x:word% go\n'
              'annotate=A:+y="1"\n'
              'annotate=B:+y="2"\n')
        df = spark.createDataFrame([("foo go",)], "msg string")
        got = dict(df.select(
            rulebase_map_expr(F.col("msg"), parse_rulebase(rb)).alias("m")
        ).first()["m"])
        assert got == {"x": "foo", "y": "2"}   # json object set: last wins

    def test_annotation_value_unescaped(self, spark):
        from rsyslog_spark.mods import parse_rulebase

        rb = ('rule=T:%x:word%\n'
              'annotate=T:+q="say \\"hi\\""\n')
        _rx, _f, consts = parse_rulebase(rb)[0]
        assert consts == [("q", 'say "hi"')]

    def test_includeconfig_tab_separator(self, tmp_path):
        inner = tmp_path / "in.conf"
        inner.write_text('action(type="omfile" file="/x/in.log")\n')
        cfg = parse_config(f"$IncludeConfig\t{inner}")
        assert len(cfg.main) == 1


class TestTemplatePosFromTo:
    """tests/template-pos-from-to*.sh goldens: 1-based inclusive
    substring, oversize range -> empty (not error), missing json var
    with a range -> empty; same through the list form."""

    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.createDataFrame(
            [(1, " msgnum:00000000")], "i long, msg string"
        )

    def _line(self, df, conf):
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        return a.output(ann).select(F.col(a.out_col).alias("x")).first()["x"]

    def test_in_range(self, df):
        conf = '''
        template(name="outfmt" type="string" string="%msg:9:16:%")
        ruleset(name="r") { action(type="omfile" file="/o.log" template="outfmt") }
        '''
        assert self._line(df, conf) == "00000000"     # seq_check parity

    def test_oversize_empty_string_form(self, df):
        conf = '''
        template(name="outfmt" type="string" string="-%msg:109:116:%-")
        ruleset(name="r") { action(type="omfile" file="/o.log" template="outfmt") }
        '''
        assert self._line(df, conf) == "--"           # cmp golden

    def test_oversize_empty_list_form(self, df):
        conf = '''
        template(name="outfmt" type="list") {
            constant(value="-")
            property(name="msg" position.from="109" position.to="116")
            constant(value="-")
        }
        ruleset(name="r") { action(type="omfile" file="/o.log" template="outfmt") }
        '''
        assert self._line(df, conf) == "--"

    def test_missing_jsonvar_empty(self, df):
        conf = '''
        template(name="outfmt" type="string" string="-%$!non!existing!var:109:116:%-")
        ruleset(name="r") { action(type="omfile" file="/o.log" template="outfmt") }
        '''
        assert self._line(df, conf) == "--"

    def test_oversize_lowercase(self, df):
        # template-pos-from-to-oversize-lowercase.sh: option pipeline
        # still applies over the empty extraction
        conf = '''
        template(name="outfmt" type="string" string="-%msg:109:116:lowercase%-")
        ruleset(name="r") { action(type="omfile" file="/o.log" template="outfmt") }
        '''
        assert self._line(df, conf) == "--"


class TestCompressSpaceGolden:
    def test_compresssp_stringtpl(self, spark):
        # tests/compresssp-stringtpl.sh: mixed-case option name +
        # multi-space collapse, cmp_exact golden
        df = spark.createDataFrame(
            [(1, "msgnum:0000000 test   test     test")],
            "i long, msg string",
        )
        conf = '''
        template(name="outfmt" type="string" string="%msg:::compressSPACE%")
        ruleset(name="r") { action(type="omfile" file="/o.log" template="outfmt") }
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        line = a.output(ann).select(F.col(a.out_col).alias("x")).first()["x"]
        assert line == "msgnum:0000000 test test test"


class TestTemplateLevelOptions:
    """option.json="on" at the template level applies JSON escaping to
    every property (template.c optTyp) — byte-exact vs
    tests/template-json.sh ('/' must NOT be escaped), both forms."""

    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.createDataFrame([(1, "x")], "i long, msg string")

    # the fixture's set line after config-string unescape:
    #   $!backslash = a \ "b" c / d
    SET = 'set $!backslash = "a \\\\ \\"b\\" c / d";'
    GOLD = '{"backslash":"a \\\\ \\"b\\" c / d"}'

    def _line(self, df, conf):
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        return a.output(ann).select(F.col(a.out_col).alias("x")).first()["x"]

    def test_list_form_golden(self, df):
        conf = f'''
        template(name="json" type="list" option.json="on") {{
            constant(value="{{")
            constant(value="\\"backslash\\":\\"")
            property(name="$!backslash")
            constant(value="\\"}}")
        }}
        ruleset(name="r") {{
            {self.SET}
            action(type="omfile" file="/o.log" template="json")
        }}
        '''
        assert self._line(df, conf) == self.GOLD

    def test_string_form(self, df):
        conf = f'''
        template(name="json" type="string" option.json="on"
                 string="{{\\"backslash\\":\\"%$!backslash%\\"}}")
        ruleset(name="r") {{
            {self.SET}
            action(type="omfile" file="/o.log" template="json")
        }}
        '''
        assert self._line(df, conf) == self.GOLD

    def test_unknown_option_param_loud(self, df):
        with pytest.raises(ValueError, match="unsupported template option"):
            parse_config(
                'template(name="t" type="string" '
                'option.casesensitive="on" string="x")'
            )


class TestJsonfTemplates:
    """format="jsonf" fields + option.jsonf framing — byte-exact vs
    tests/template-const-jsonf.sh and template-pure-json.sh."""

    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.createDataFrame(
            [(1, " msgnum:00000000:")], "i long, msg string"
        )

    def _line(self, df, conf):
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        return a.output(ann).select(F.col(a.out_col).alias("x")).first()["x"]

    def test_const_jsonf_golden(self, df):
        conf = '''
        template(name="outfmt" type="list") {
            constant(outname="@version" value="1" format="jsonf")
        }
        ruleset(name="r") { action(type="omfile" file="/o.log" template="outfmt") }
        '''
        assert self._line(df, conf) == '"@version": "1"'

    def test_pure_json_golden(self, df):
        conf = '''
        template(name="outfmt" type="list" option.jsonf="on") {
            property(outname="message" name="msg" format="jsonf")
            constant(outname="@version" value="1" format="jsonf")
        }
        ruleset(name="r") { action(type="omfile" file="/o.log" template="outfmt") }
        '''
        assert self._line(df, conf) == (
            '{"message":" msgnum:00000000:", "@version": "1"}\n'
        )

    def test_numeric_auto(self, spark):
        # msg.c jsonField dataType AUTO: all-digit value -> bare number
        df2 = spark.createDataFrame([(1, "12345")], "i long, msg string")
        conf = '''
        template(name="t" type="list") {
            property(outname="n" name="msg" format="jsonf")
        }
        ruleset(name="r") { action(type="omfile" file="/o.log" template="t") }
        '''
        assert self._line(df2, conf) == '"n":12345'

    def test_jsonf_string_template_rejected(self):
        with pytest.raises(ValueError, match="only modeled for"):
            parse_config('template(name="t" type="string" '
                         'option.jsonf="on" string="x")')


class TestFmHash:
    """fmhash function module (contrib/fmhash) — the non-xxhash build:
    hash32 = FNV-1/uint32, hash64 = modified-djb/uint64. Goldens are
    the rscript_hash32/hash64 content-pattern alternatives this build
    produces."""

    UUID = "0f9a1d07-a8c9-43a7-a6f7-198dca3d932e"

    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.createDataFrame([(1, "x")], "i long, msg string")

    def _vars(self, df, conf):
        ann, _ = compile_config(df, conf, entry="r")
        return dict(ann.first()["vars"])

    def test_hash64_golden(self, df):
        conf = f'''
        ruleset(name="r") {{
            set $.h1 = hash64("{self.UUID}");
            set $.h2 = hash64mod("{self.UUID}", 100);
        }}
        '''
        v = self._vars(df, conf)
        # rscript_hash64.sh second alternative: -50452361579464591 - 25
        assert v[".h1"] == "-50452361579464591"
        assert v[".h2"] == "25"

    def test_hash32_golden(self, df):
        conf = f'''
        ruleset(name="r") {{
            set $.h1 = hash32("{self.UUID}");
            set $.h2 = hash32mod("{self.UUID}", 100);
        }}
        '''
        v = self._vars(df, conf)
        # rscript_hash32.sh first alternative: 746581550 - 50
        assert v[".h1"] == "746581550"
        assert v[".h2"] == "50"

    def test_seed_and_column_input(self, df):
        conf = '''
        ruleset(name="r") {
            set $.a = hash64($msg, 7);
            set $.b = hash64($msg) + 7;
            set $.c = hash32("", 123);
        }
        '''
        v = self._vars(df, conf)
        # djb adds the seed AFTER the loop; fnv over '' returns the seed
        assert v[".a"] == v[".b"]
        assert v[".c"] == "123"

    def test_differential_python(self, spark):
        # byte-walk parity incl. a non-ASCII (sign-extension) case
        import random as _r

        strs = ["", "a", "hello world", "Grüße-é中", "0" * 64]
        rows = [(i, s) for i, s in enumerate(strs)]
        df = spark.createDataFrame(rows, "i long, msg string")
        conf = '''
        ruleset(name="r") {
            set $.h32 = hash32($msg);
            set $.h64 = hash64($msg);
        }
        '''
        ann, _ = compile_config(df, conf, entry="r")
        got = {r["i"]: dict(r["vars"]) for r in ann.collect()}

        def py32(s):
            v = 0
            for ch in s.encode():
                v = (v + (v << 1) + (v << 4) + (v << 7) + (v << 8)
                     + (v << 24)) & 0xFFFFFFFF
                v ^= ch
            return v

        def py64(s):
            h = 5381
            for ch in s.encode():
                c = ch - 256 if ch >= 128 else ch
                h = (33 * h ^ c) & 0xFFFFFFFFFFFFFFFF
            return h - (1 << 64) if h >= (1 << 63) else h

        for i, s in enumerate(strs):
            assert got[i][".h32"] == str(py32(s)), (s, got[i])
            assert got[i][".h64"] == str(py64(s)), (s, got[i])


class TestUnflattenAndBareRoot:
    """contrib/fmunflatten unflatten() + bare %$!% root rendering —
    goldens from tests/rscript_unflatten_*.sh and
    rscript_bare_var_root*.sh. (The engine's shared $!/$. bag means
    only fixtures that set no local vars before the call apply —
    SURVEY §1.3's documented namespace simplification.)"""

    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.createDataFrame(
            [(1, " msgnum:00000000:")], "i long, msg string"
        )

    TPL = 'template(name="outfmt" type="string" string="%msg% %$.ret% %$.unflatten%")'

    def _line(self, df, body):
        conf = f'''
        {self.TPL}
        ruleset(name="r") {{
            {body}
            action(type="omfile" file="/o.log" template="outfmt")
        }}
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        return a.output(ann).select(F.col(a.out_col).alias("x")).first()["x"]

    def test_object_golden(self, df):
        # rscript_unflatten_object.sh cmp_exact line
        body = '''
            set $!source.ip = "1.2.3.4";
            set $!source.bytes = 3258;
            set $!source.geo.country_iso_code = "FR";
            set $!destination.ip = "4.3.2.1";
            set $.unflatten = unflatten($!, ".");
            set $.ret = script_error();
        '''
        assert self._line(df, body) == (
            ' msgnum:00000000: 0 { "source": { "ip": "1.2.3.4", '
            '"bytes": 3258, "geo": { "country_iso_code": "FR" } }, '
            '"destination": { "ip": "4.3.2.1" } }'
        )

    def test_conflict1_golden(self, df):
        # a string node overridden by a deeper object
        body = '''
            set $!a!b = "foo";
            set $!a.b.c = "bar";
            set $.unflatten = unflatten($!, ".");
            set $.ret = script_error();
        '''
        assert self._line(df, body) == (
            ' msgnum:00000000: 0 { "a": { "b": { "c": "bar" } } }'
        )

    def test_conflict3_golden(self, df):
        # a final node overriding an existing value
        body = '''
            set $!a!b = "foo";
            set $!a.b = "bar";
            set $.unflatten = unflatten($!, ".");
            set $.ret = script_error();
        '''
        assert self._line(df, body) == (
            ' msgnum:00000000: 0 { "a": { "b": "bar" } }'
        )

    def test_key_truncated_golden(self, df):
        long_seg = "b" * 254 + "255ccccc"
        body = f'''
            set $!a.{long_seg}.d = "bar";
            set $.unflatten = unflatten($!, ".");
            set $.ret = script_error();
        '''
        # segment truncated at 255 chars: 254 b's + '2' survives
        assert self._line(df, body) == (
            ' msgnum:00000000: 0 { "a": { "' + "b" * 254 + '2": '
            '{ "d": "bar" } } }'
        )

    def test_arg_errors(self, df):
        # empty tree -> ret 1, result number 0
        body = '''
            set $.unflatten = unflatten($!, ".");
            set $.ret = script_error();
        '''
        assert self._line(df, body) == " msgnum:00000000: 1 0"
        # bad separator -> ret 1, result number 0
        body2 = '''
            set $!a.b.c = "foobar";
            set $.unflatten = unflatten($!, "too many chars");
            set $.ret = script_error();
        '''
        assert self._line(df, body2) == " msgnum:00000000: 1 0"

    def test_bare_root_render(self, df):
        # rscript_bare_var_root.sh + -empty.sh
        conf = '''
        template(name="t" type="string" string="empty-%$!%-")
        ruleset(name="r") { action(type="omfile" file="/o.log" template="t") }
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        assert a.output(ann).select(
            F.col(a.out_col).alias("x")
        ).first()["x"] == "empty--"
        # (the reference fixture's `set $! = $.` whole-tree assignment
        # has no analog over the shared bag — the RENDER form is what
        # this pins; reset = the overwrite path)
        conf2 = '''
        template(name="t" type="string" string="%$!%")
        ruleset(name="r") {
            set $!a = "TEST";
            reset $!a = "TEST-overwritten";
            action(type="omfile" file="/o.log" template="t")
        }
        '''
        ann2, actions2 = compile_config(df, conf2, entry="r")
        a2 = actions2[0]
        assert a2.output(ann2).select(
            F.col(a2.out_col).alias("x")
        ).first()["x"] == '{ "a": "TEST-overwritten" }'


class TestSubstringAndSubtreeGolden:
    def test_rscript_substring_golden(self, spark):
        # tests/rscript_substring.sh: substring edges + the %!str%
        # subtree render, byte-exact
        df = spark.createDataFrame([(1, "x")], "i long, msg string")
        conf = '''
        template(name="outfmt" type="string" string="%!str%")
        ruleset(name="r") {
            set $!str!var1 = substring("", 0, 0);
            set $!str!var2 = substring("test", 0, 4);
            set $!str!var3 = substring("test", 1, 2);
            set $!str!var4 = substring("test", 4, 2);
            set $!str!var5 = substring("test", 0, 5);
            set $!str!var6 = substring("test", 0, 6);
            set $!str!var7 = substring("test", 3, 4);
            set $!str!var8 = substring("test", 1, 0);
            action(type="omfile" file="/o.log" template="outfmt")
        }
        '''
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        line = a.output(ann).select(F.col(a.out_col).alias("x")).first()["x"]
        assert line == (
            '{ "var1": "", "var2": "test", "var3": "es", "var4": "", '
            '"var5": "test", "var6": "test", "var7": "t", "var8": "" }'
        )


class TestRulebaseNewTypes:
    """r5: liblognorm v1 types float / mac48 / ipv6 / name-value-list
    (plugins/mmnormalize rulebase semantics; previously loud-rejected)."""

    def _one(self, spark, rb, msg):
        from rsyslog_spark.mods import parse_rulebase, rulebase_map_expr

        df = spark.createDataFrame([(msg,)], "msg string")
        return dict(
            df.select(
                rulebase_map_expr(F.col("msg"), parse_rulebase(rb))
                .alias("m")
            ).first()["m"]
        )

    def test_float(self, spark):
        rb = "rule=:temp=%t:float% unit=%u:word%"
        got = self._one(spark, rb, "temp=-12.75 unit=C")
        assert got == {"t": "-12.75", "u": "C"}
        # v1 greedy scan consumes a trailing dot
        got = self._one(spark, rb, "temp=15. unit=F")
        assert got["t"] == "15."
        # non-number does not match
        got = self._one(spark, rb, "temp=abc unit=C")
        assert "t" not in got and "originalmsg" in got

    def test_mac48_consistent_separator(self, spark):
        rb = "rule=:mac %m:mac48% end"
        assert self._one(spark, rb, "mac 00:1b:63:84:45:e6 end")["m"] == \
            "00:1b:63:84:45:e6"
        assert self._one(spark, rb, "mac 00-1B-63-84-45-E6 end")["m"] == \
            "00-1B-63-84-45-E6"
        # mixed separators must NOT match (v1 checks one separator)
        got = self._one(spark, rb, "mac 00:1b-63:84:45:e6 end")
        assert "m" not in got

    def test_ipv6(self, spark):
        rb = "rule=:src=%a:ipv6% ok"
        for addr in ("2001:db8:85a3:0:0:8a2e:370:7334",
                     "2001:db8::8a2e:370:7334", "::1", "fe80::"):
            assert self._one(spark, rb, f"src={addr} ok")["a"] == addr
        got = self._one(spark, rb, "src=not-an-ip ok")
        assert "a" not in got

    def test_name_value_list_span(self, spark):
        rb = "rule=:AUDIT %kv:name-value-list% END"
        got = self._one(spark, rb, "AUDIT uid=0 pid=133 comm=sshd END")
        assert got["kv"] == "uid=0 pid=133 comm=sshd"

    def test_unknown_type_still_loud(self, spark):
        from rsyslog_spark.mods import parse_rulebase

        with pytest.raises(ValueError, match="unsupported liblognorm"):
            parse_rulebase("rule=:%x:cee-syslog%")

    # --- second r5 batch: remaining v1 simple types + string-to ----------

    def test_hexnumber(self, spark):
        rb = "rule=:addr=%a:hexnumber% ok"
        assert self._one(spark, rb, "addr=0x7fa3 ok")["a"] == "0x7fa3"
        assert "a" not in self._one(spark, rb, "addr=7fa3 ok")

    def test_duration(self, spark):
        rb = "rule=:took %d:duration% total"
        # hours may exceed two digits (v1 doc)
        assert self._one(spark, rb, "took 123:45:06 total")["d"] == \
            "123:45:06"
        assert "d" not in self._one(spark, rb, "took 1:2:3 total")

    def test_time_24hr_12hr(self, spark):
        rb24 = "rule=:at %t:time-24hr% end"
        assert self._one(spark, rb24, "at 23:59:59 end")["t"] == "23:59:59"
        assert "t" not in self._one(spark, rb24, "at 24:00:00 end")
        rb12 = "rule=:at %t:time-12hr% end"
        assert self._one(spark, rb12, "at 9:15:00 end")["t"] == "9:15:00"
        assert self._one(spark, rb12, "at 12:15:00 end")["t"] == "12:15:00"
        assert "t" not in self._one(spark, rb12, "at 13:15:00 end")

    def test_kernel_timestamp(self, spark):
        rb = "rule=:%k:kernel-timestamp% oops"
        assert self._one(spark, rb, "[12345.678901] oops")["k"] == \
            "[12345.678901]"
        # fraction must be exactly 6 digits, integer part >= 5
        assert "k" not in self._one(spark, rb, "[123.678901] oops")
        assert "k" not in self._one(spark, rb, "[12345.6789] oops")

    def test_whitespace_discard(self, spark):
        rb = "rule=:a%-:whitespace%b=%v:word%"
        got = self._one(spark, rb, "a   \tb=7")
        assert got == {"v": "7"}

    def test_string_to_multichar_stop(self, spark):
        # the stop string is NOT consumed: it follows as a literal
        rb = "rule=:note %n:string-to: END% END"
        assert self._one(spark, rb, "note w42 x END")["n"] == "w42 x"
        assert "n" not in self._one(spark, rb, "note w42 x FIN")

    def test_iptables_span(self, spark):
        rb = "rule=:FW: %f:iptables% DONE"
        got = self._one(
            spark, rb, "FW: IN=eth0 OUT= SRC=10.0.0.7 DPT=443 DONE"
        )
        assert got["f"] == "IN=eth0 OUT= SRC=10.0.0.7 DPT=443"

    def test_config_text_rule_param(self, spark):
        # the new types are reachable from config text (action rule=)
        df = spark.createDataFrame(
            [(1, "lease 10.0.0.7 mac 00:1b:63:84:45:e6")],
            "i long, msg string",
        )
        conf = '''
        ruleset(name="r") {
            action(type="mmnormalize"
                   rule=["rule=:lease %ip:ipv4% mac %mac:mac48%"])
        }
        '''
        ann, _ = compile_config(df, conf, entry="r")
        v = dict(ann.first()["vars"])
        assert v["ip"] == "10.0.0.7"
        assert v["mac"] == "00:1b:63:84:45:e6"


class TestPmRfc3164Options:
    """parser(type="pmrfc3164" ...) instances (tools/pmrfc3164.c:63-70)
    — the five reference e2e goldens byte-exact plus the datetime.c
    year-form walks (hand-derived, :497-507/:678-690/:744-768)."""

    def _run(self, spark, params, raws, tpl):
        from rsyslog_spark.config import apply_ruleset_parsers
        from rsyslog_spark.templates import compile_template

        conf = f'''
parser(name="custom.rfc3164" type="pmrfc3164" {params})
template(name="outfmt" type="string" string="{tpl}")
ruleset(name="customparser" parser=["custom.rfc3164"]) {{
    action(type="omfile" file="/log/out.log" template="outfmt")
}}
'''
        df = spark.createDataFrame(
            [(r, "2019-03-15 00:00:00") for r in raws],
            "text string, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        parsed, cfg = apply_ruleset_parsers(df, conf, "customparser")
        rows = parsed.select(
            compile_template(cfg.templates["outfmt"]).alias("line"),
            "syslogtag",
        ).collect()
        return rows

    def test_tag_ending_by_colon_golden(self, spark):
        """tests/pmrfc3164-tagEndingByColon.sh cmp byte-exact (the
        ':syslogtag, contains, "tag"' filter drops the '-' rows)."""
        rows = self._run(
            spark, 'force.tagEndingByColon="on"',
            [
                "<129>Mar 10 01:00:00 Hostname1 tag1: msgnum:1",
                "<129>Mar 10 01:00:00 Hostname2 tag2:  msgnum:2",
                "<129>Mar 10 01:00:00 Hostname3 tag3 msgnum:3",
                "<129>Mar 10 01:00:00 Hostname4 tag4 :",
                "<129>Mar 10 01:00:00 Hostname5 tag5:msgnum:5",
            ],
            "-%syslogtag%-%msg%-",
        )
        got = [r["line"] for r in rows if "tag" in r["syslogtag"]]
        assert got == [
            "-tag1:- msgnum:1-",
            "-tag2:-  msgnum:2-",
            "-tag5:-msgnum:5-",
        ]
        # the dropped rows carry the reference's '-' TAG and the
        # p2parse -= (i+1) restore (pre-TAG delimiter re-enters MSG)
        dropped = [r["line"] for r in rows if "tag" not in r["syslogtag"]]
        assert dropped == [
            "--- tag3 msgnum:3-",
            "--- tag4 :-",
        ]

    def test_msg_first_space_golden(self, spark):
        """tests/pmrfc3164-msgFirstSpace.sh cmp byte-exact."""
        rows = self._run(
            spark, 'remove.msgFirstSpace="on"',
            [
                "<129>Mar 10 01:00:00 172.20.245.8 tag: msgnum:1",
                "<129>Mar 10 01:00:00 172.20.245.8 tag:  msgnum:2",
                "<129>Mar 10 01:00:00 172.20.245.8 tag:msgnum:3",
                "<129>Mar 10 01:00:00 172.20.245.8 tag4:",
            ],
            "-%msg%-",
        )
        assert [r["line"] for r in rows] == [
            "-msgnum:1-", "- msgnum:2-", "-msgnum:3-", "--",
        ]

    def test_at_signs_golden_on_and_off(self, spark):
        """tests/pmrfc3164-AtSignsInHostname.sh (on: all four hostnames
        incl. '@' forms) and _off.sh (off: '@' rows lose the hostname
        and their TAG becomes the would-be hostname, so the
        tag-contains filter drops them)."""
        raws = [
            "<129>Mar 10 01:00:00 Hostname1 tag: msgnum:1",
            "<129>Mar 10 01:00:00 Hostn@me2 tag:  msgnum:2",
            "<129>Mar 10 01:00:00 Hostname3 tag:msgnum:3",
            "<129>Mar 10 01:00:00 Hos@name4 tag4:",
        ]
        on = self._run(
            spark, 'permit.AtSignsInHostname="on"', raws,
            "-%hostname%-",
        )
        assert [r["line"] for r in on] == [
            "-Hostname1-", "-Hostn@me2-", "-Hostname3-", "-Hos@name4-",
        ]
        off = self._run(
            spark, 'permit.AtSignsInHostname="off"', raws,
            "-%hostname%-%syslogtag%-%msg%-",
        )
        got = [r["line"] for r in off if "tag" in r["syslogtag"]]
        assert got == [
            "-Hostname1-tag:- msgnum:1-",
            "-Hostname3-tag:-msgnum:3-",
        ]

    def test_slashes_golden(self, spark):
        """tests/hostname-with-slash-pmrfc3164.sh cmp byte-exact."""
        rows = self._run(
            spark, 'permit.slashesInHostname="on"',
            ["<167>Mar  6 16:57:54 hostname1/hostname2 test: msgnum:0"],
            "%hostname%",
        )
        assert [r["line"] for r in rows] == ["hostname1/hostname2"]

    def test_square_brackets(self, spark):
        """pmrfc3164.c:270-324 bracket walk: '[ip] ' is a hostname
        (brackets kept); a bare '[ip]' with nothing after is NOT
        (the post-']' char must be SP)."""
        rows = self._run(
            spark, 'permit.squareBracketsInHostname="on"',
            [
                "<129>Mar 10 01:00:00 [192.168.0.1] tag: x",
                "<129>Mar 10 01:00:00 [192.168.0.1]",
            ],
            "%hostname%|%syslogtag%",
        )
        assert rows[0]["line"] == "[192.168.0.1]|tag:"
        assert rows[1]["line"].startswith("|")  # no hostname

    def test_year_forms(self, spark):
        """datetime.c year walks: prepended (:497-507, ungated),
        hour-position (:678-690, ungated), after-time (:744-759,
        gated on detect.YearAfterTimestamp), tolerated ':' (:761-768).
        timereported carries the explicit year (:783-784)."""
        tpl = "%timereported:::date-rfc3339%|%hostname%|%msg%"
        rows = self._run(
            spark, 'detect.yearAfterTimestamp="on"',
            [
                "<129>2021 Mar 10 01:00:00 h tag: a",
                "<129>Mar 10 2022 01:00:00 h tag: b",
                "<129>Mar 10 01:00:00 2023 h tag: c",
                "<129>Mar 10 01:00:00 1999 h tag: d",  # <2000: not a year
                "<129>Mar 10 01:00:00: h tag: e",      # tolerated colon
            ],
            tpl,
        )
        lines = [r["line"] for r in rows]
        assert lines[0].startswith("2021-03-10T01:00:00")
        assert lines[1].startswith("2022-03-10T01:00:00")
        assert lines[2].startswith("2023-03-10T01:00:00")
        assert lines[0].endswith("|h| a")
        # 1999 fails the 2000..2099 gate -> recv-year ts, and "1999"
        # re-enters the scan as the hostname
        assert lines[3].startswith("2019-03-10T01:00:00")
        assert "|1999|" in lines[3]
        assert lines[4].startswith("2019-03-10T01:00:00")
        assert lines[4].endswith("|h| e")

    def test_year_forms_off_by_default(self, spark):
        """With the option off the after-time year is NOT consumed
        (goes to the hostname scan), but the ungated forms still
        parse."""
        rows = self._run(
            spark, "",
            [
                "<129>Mar 10 01:00:00 2023 h tag: c",
                "<129>2021 Mar 10 01:00:00 h tag: a",
            ],
            "%timereported:::date-rfc3339%|%hostname%",
        )
        assert "|2023" in rows[0]["line"]
        assert rows[0]["line"].startswith("2019-")
        assert rows[1]["line"] == "2021-03-10T01:00:00+00:00|h"

    def test_out_of_range_time_takes_reception_time(self, spark):
        """The reference accepts hour 0-23 and minute 0-59
        (datetime.c:329-358); hour 24 or minute 60 must not roll over
        into the next day or hour, on the estimated-year path and the
        explicit-year path alike."""
        from datetime import datetime

        from rsyslog_spark.parse.chain_custom import build_custom_chain

        raws = [
            "<13>Jan  1 24:00:00 h tag: a",
            "<13>Jan  1 10:60:00 h tag: b",
            "<13>2021 Jan  1 24:00:00 h tag: c",
            "<13>Jan  1 2021 10:60:00 h tag: d",
            "<13>Jan  1 23:59:00 h tag: e",
            "<13>2021 Jan  1 23:59:00 h tag: f",
        ]
        df = spark.createDataFrame(
            [(i, r, "2019-03-15 00:00:00") for i, r in enumerate(raws)],
            "i int, text string, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        out = build_custom_chain(
            df, [{"name": "custom.rfc3164", "type": "pmrfc3164"}]
        )
        got = [r["timereported"] for r in out.orderBy("i").collect()]
        recv = datetime(2019, 3, 15)
        assert got == [
            recv, recv, recv, recv,
            datetime(2019, 1, 1, 23, 59), datetime(2021, 1, 1, 23, 59),
        ]

    @pytest.mark.parametrize("col", ["fromhost", "hostname"])
    def test_no_parsed_hostname_takes_received_host(self, spark, col):
        """A row with no hostname takes the input's ``fromhost`` (rsyslog's
        getHOSTNAME falls back to rcvFrom); with no ``fromhost`` column
        the fold keeps an input ``hostname``."""
        from rsyslog_spark.parse.chain_custom import build_custom_chain

        raws = ["<13>app: y", "<13>Mar 10 01:00:00 h tag: x", '{"k":1}']
        df = spark.createDataFrame(
            [(i, r, "relay1") for i, r in enumerate(raws)],
            f"i int, text string, {col} string",
        ).withColumn("ts", F.current_timestamp())
        out = build_custom_chain(
            df, [{"name": "custom.rfc3164", "type": "pmrfc3164"}]
        ).orderBy("i").collect()
        assert [r["hostname"] for r in out] == ["relay1", "h", "relay1"]

    def test_one_python_eval_node(self, spark):
        """The pmrfc3164 instance is one Arrow UDF returning a struct: the
        executed plan of a pmnull + pmrfc3164 chain holds exactly one
        ArrowEvalPython node (the struct is not evaluated once per field
        the fold reads) and no other Python eval node."""
        from rsyslog_spark.parse.chain_custom import build_custom_chain

        df = spark.createDataFrame(
            [("<13>Mar 10 01:00:00 h tag: x", "2019-03-15 00:00:00")],
            "text string, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        out = build_custom_chain(df, [
            {"name": "custom.rfc3164", "type": "pmrfc3164"},
            {"name": "custom.pmnull", "type": "pmnull", "tag": "t"},
        ])
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        nodes = re.findall(r"\b(\w*(?:EvalPython|MapIn|InPandas)\w*)", plan)
        assert nodes == ["ArrowEvalPython"], plan


class TestOmRulesetAndOmStdout:
    """omruleset legacy faces (plugins/omruleset/omruleset.c — the
    deprecated 'call' predecessor: MsgDup + submit to the target
    ruleset's QUEUE ≡ queued call) and omstdout (plugins/omstdout —
    console ≡ the 'stdout' sink table)."""

    def _df(self, spark):
        return spark.createDataFrame(
            [("<13>Mar 10 01:00:00 h tag: hello", "2019-03-15 00:00:00")],
            "text string, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))

    def test_omruleset_legacy_face(self, spark):
        from rsyslog_spark.parse import with_parsed

        conf = """
template(name="t" type="string" string="%msg%")
ruleset(name="target") {
    action(type="omfile" file="/log/routed.log" template="t")
}
$ActionOmrulesetRulesetName target
:omruleset:
action(type="omfile" file="/log/direct.log" template="t")
"""
        df = with_parsed(self._df(spark))
        ann, actions = compile_config(df, conf)
        sinks = {a.sink for a in actions}
        assert {"routed", "direct"} <= sinks
        for name in ("routed", "direct"):
            a = next(x for x in actions if x.sink == name)
            rows = a.output(ann).select(a.out_col).collect()
            assert [r[0] for r in rows] == [" hello"]

    def test_omruleset_missing_directive_errors(self, spark):
        from rsyslog_spark.config import parse_config

        with pytest.raises(ValueError, match="no ruleset was specified"):
            parse_config("ruleset(name=\"x\") { stop }\n:omruleset:\n")

    def test_omstdout_action(self, spark):
        from rsyslog_spark.parse import with_parsed

        conf = """
template(name="t" type="string" string="OUT %msg%")
ruleset(name="r") {
    action(type="omstdout" template="t")
}
"""
        df = with_parsed(self._df(spark))
        ann, actions = compile_config(df, conf, entry="r")
        a = next(x for x in actions if x.sink == "stdout")
        rows = a.output(ann).select(a.out_col).collect()
        assert [r[0] for r in rows] == ["OUT  hello"]


class TestExistsSubtree:
    """exists($!x) is node existence (msgCheckVarExists walks the
    tree): a parent whose only content is children exists — r5, same
    leaf-or-subtree rule as template refs."""

    def test_parent_and_leaf_and_missing(self, spark):
        from rsyslog_spark.parse import with_parsed

        df = spark.createDataFrame(
            [("<13>Mar 10 01:00:00 h t: m", "2019-03-15 00:00:00")],
            "text string, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        conf = """
template(name="t" type="string" string="%$.r%")
ruleset(name="r") {
    set $!a!b = "1";
    if exists($!a) then { set $.r = "parent"; }
    if exists($!a!b) then { reset $.r = $.r & "+leaf"; }
    if exists($!nope) then { reset $.r = $.r & "+BAD"; }
    action(type="omfile" file="/x/out.log" template="t")
}
"""
        ann, actions = compile_config(with_parsed(df), conf, entry="r")
        a = next(x for x in actions if x.sink == "out")
        assert a.output(ann).select(a.out_col).first()[0] == "parent+leaf"
