"""mmtaghostname / mmaudit / mmrfc5424addhmac (round-5 modules).

Goldens are hand-derived from the reference C walks and, for
mmtaghostname, reproduce the two reference e2e tests' content checks
byte-for-byte (tests/mmtaghostname_tag.sh, tests/mmtaghostname_server.sh
— the template's trailing newline is the file sink's line terminator,
asserted without it here)."""

from __future__ import annotations

import hashlib
import hmac as hmaclib
import ipaddress
import re

import pytest

from pyspark.sql import functions as F

from rsyslog_spark import external as external_mod
from rsyslog_spark.config import compile_config
from rsyslog_spark.mods import (
    audit_record_fields,
    hmac_sd_element,
    mm_audit,
    mm_rfc5424addhmac,
    mm_taghostname,
)
from rsyslog_spark.parse import with_parsed

# the exact tcpflood message both reference tests inject
RAW_5424 = (
    "<189>1 2019-03-03T16:09:56.185+00:00 server app 123.4 msgid - "
    "%SYS-5-CONFIG_I: Configured from console by adminsepp on vty0 "
    "(10.23.214.226)"
)
MSG = (
    "%SYS-5-CONFIG_I: Configured from console by adminsepp on vty0 "
    "(10.23.214.226)"
)


def _parsed_df(spark, raws):
    df = spark.createDataFrame(
        [(r, "2019-03-03 16:10:00") for r in raws], "text string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return with_parsed(df)


def _render(ann, actions, sink):
    a = next(x for x in actions if x.sink == sink)
    rows = a.output(ann).select(F.col(a.out_col).alias("x")).collect()
    return [r["x"] for r in rows]


class TestMMTagHostname:
    def test_tag_golden(self, spark):
        """tests/mmtaghostname_tag.sh content check byte-exact."""
        conf = """
template(name="test" type="string"
         string="tag: %syslogtag%, server: %hostname%, msg: %msg%")
ruleset(name="ruleset") {
    action(type="mmtaghostname" tag="source-imtcp")
    action(type="omfile" file="/x/out.log" template="test")
}
"""
        ann, actions = compile_config(
            _parsed_df(spark, [RAW_5424]), conf, entry="ruleset"
        )
        assert _render(ann, actions, "out") == [
            f"tag: source-imtcp, server: server, msg: {MSG}"
        ]

    def test_forcelocalhostname_golden(self, spark):
        """tests/mmtaghostname_server.sh content check byte-exact —
        global(localhostname="frontAPP") feeds the forced hostname;
        the TAG stays the parsed app[procid]."""
        conf = """
global(localhostname="frontAPP")
template(name="test" type="string"
         string="tag: %syslogtag%, server: %hostname%, msg: %msg%")
ruleset(name="ruleset") {
    action(type="mmtaghostname" forcelocalhostname="on")
    action(type="omfile" file="/x/out.log" template="test")
}
"""
        ann, actions = compile_config(
            _parsed_df(spark, [RAW_5424]), conf, entry="ruleset"
        )
        assert _render(ann, actions, "out") == [
            f"tag: app[123.4], server: frontAPP, msg: {MSG}"
        ]

    def test_template_before_mutation_sees_old_state(self, spark):
        """ruleset.c sequential exec: an action ABOVE mmtaghostname
        renders the pre-mutation tag/hostname (column snapshots)."""
        conf = """
global(localhostname="frontAPP")
template(name="t" type="string" string="%syslogtag%/%hostname%")
ruleset(name="r") {
    action(type="omfile" file="/x/before.log" template="t")
    action(type="mmtaghostname" tag="newtag" forcelocalhostname="on")
    action(type="omfile" file="/x/after.log" template="t")
}
"""
        ann, actions = compile_config(
            _parsed_df(spark, [RAW_5424]), conf, entry="r"
        )
        assert _render(ann, actions, "before") == ["app[123.4]/server"]
        assert _render(ann, actions, "after") == ["newtag/frontAPP"]

    def test_programname_rederived(self, spark):
        df = mm_taghostname(_parsed_df(spark, [RAW_5424]), tag="nginx[12]:")
        row = df.select("syslogtag", "programname").first()
        assert row["syslogtag"] == "nginx[12]:"
        assert row["programname"] == "nginx"

    def test_conditional_path(self, spark):
        """mmtaghostname inside an if only retags the matching rows."""
        raws = [RAW_5424, RAW_5424.replace("app", "db2")]
        conf = """
template(name="t" type="string" string="%syslogtag%")
ruleset(name="r") {
    if ($app-name == "app") then {
        action(type="mmtaghostname" tag="retagged")
    }
    action(type="omfile" file="/x/out.log" template="t")
}
"""
        ann, actions = compile_config(_parsed_df(spark, raws), conf, entry="r")
        assert sorted(_render(ann, actions, "out")) == [
            "db2[123.4]", "retagged",
        ]


RAW_SNMP = (
    "<165>Mar  3 16:09:56 collector "
    "snmptrapd/warning/myhost.example.com: IF-MIB::linkDown trap"
)


class TestMMSnmpTrapd:
    """mmsnmptrapd goldens hand-derived from the C doAction walk
    (plugins/mmsnmptrapd/mmsnmptrapd.c:228-265) — no reference e2e
    test exists for this module, so the cases below each pin one
    branch of the walk."""

    def test_full_rewrite_golden(self, spark):
        """Matching TAG: TAG -> snmptrapd:, HOSTNAME from the tag's
        host component (trailing ':' stripped), severity + pri from
        the mapping, programname re-derived."""
        conf = """
template(name="t" type="string"
         string="%hostname% %syslogtag% %syslogseverity% %pri% %programname%")
ruleset(name="r") {
    action(type="mmsnmptrapd" severitymapping="warning/4,error/3")
    action(type="omfile" file="/x/out.log" template="t")
}
"""
        ann, actions = compile_config(
            _parsed_df(spark, [RAW_SNMP]), conf, entry="r"
        )
        # fac 20 sev 5 in, mapping warning->4: pri 20*8+4 = 164
        assert _render(ann, actions, "out") == [
            "myhost.example.com snmptrapd: 4 164 snmptrapd"
        ]

    def test_legacy_directives_and_action_line(self, spark):
        """$mmsnmptrapdTag / $mmsnmptrapdSeverityMapping +
        ':mmsnmptrapd:' legacy action line (mmsnmptrapd.c:319-365
        parseSelectorAct, :429-432 cfsysline handlers); custom tag
        changes BOTH the match prefix and the replacement."""
        raws = [
            RAW_SNMP.replace("snmptrapd/", "mytrapd/"),
            RAW_SNMP,  # does NOT match the custom tag -> untouched
        ]
        conf = """
$mmsnmptrapdTag mytrapd
$mmsnmptrapdSeverityMapping warning/2
:mmsnmptrapd:
template(name="t" type="string"
         string="%hostname% %syslogtag% %syslogseverity%")
action(type="omfile" file="/x/out.log" template="t")
"""
        ann, actions = compile_config(_parsed_df(spark, raws), conf)
        assert sorted(_render(ann, actions, "out")) == [
            "collector snmptrapd/warning/myhost.example.com: 5",
            "myhost.example.com mytrapd: 2",
        ]

    def test_no_host_component_sets_empty_hostname(self, spark):
        """Severity terminated by end-of-tag: getTagComponent (:189-206)
        stops only at '/', ' ' or NUL — the TAG-terminating ':' folds
        INTO the severity component ("warning:" misses the "warning"
        mapping; only the HOST component gets the trailing-colon strip,
        :254-257), and the host read returns 0 but MsgSetHOSTNAME still
        runs (:261) — hostname becomes empty."""
        from rsyslog_spark.mods import mm_snmptrapd

        raw = "<165>Mar  3 16:09:56 collector snmptrapd/warning: trap"
        df = mm_snmptrapd(
            _parsed_df(spark, [raw]), severity_mapping="warning/4"
        )
        row = df.select("hostname", "syslogseverity", "syslogtag").first()
        assert row["hostname"] == ""
        assert row["syslogseverity"] == 5  # "warning:" != "warning"
        assert row["syslogtag"] == "snmptrapd:"
        # severity terminated by a SPACE maps cleanly (component ends
        # before the space; host read then starts at ' ' -> empty)
        raw2 = "<165>Mar  3 16:09:56 collector snmptrapd/warning x: trap"
        df2 = mm_snmptrapd(
            _parsed_df(spark, [raw2]), severity_mapping="warning/4"
        )
        row2 = df2.select("hostname", "syslogseverity").first()
        assert row2["syslogseverity"] == 4
        assert row2["hostname"] == ""

    def test_unmapped_severity_unchanged(self, spark):
        """lookupSeverityCode -1 -> iSeverity untouched (:258-263),
        but TAG/HOSTNAME still rewritten."""
        from rsyslog_spark.mods import mm_snmptrapd

        raw = "<165>Mar  3 16:09:56 collector snmptrapd/bogus/h: trap"
        df = mm_snmptrapd(
            _parsed_df(spark, [raw]), severity_mapping="warning/4"
        )
        row = df.select(
            "hostname", "syslogseverity", "pri", "syslogtag"
        ).first()
        assert row["hostname"] == "h"
        assert row["syslogseverity"] == 5
        assert row["pri"] == 165
        assert row["syslogtag"] == "snmptrapd:"

    def test_sequential_exec_snapshot(self, spark):
        """An action ABOVE mmsnmptrapd renders the pre-rewrite
        severity/hostname (ruleset.c sequential exec — exercises the
        syslogseverity/pri column snapshot)."""
        conf = """
template(name="t" type="string" string="%hostname%/%syslogseverity%")
ruleset(name="r") {
    action(type="omfile" file="/x/before.log" template="t")
    action(type="mmsnmptrapd" severitymapping="warning/4")
    action(type="omfile" file="/x/after.log" template="t")
}
"""
        ann, actions = compile_config(
            _parsed_df(spark, [RAW_SNMP]), conf, entry="r"
        )
        assert _render(ann, actions, "before") == ["collector/5"]
        assert _render(ann, actions, "after") == ["myhost.example.com/4"]


class TestSnmpTrapdMappingParse:
    """buildSeverityMapping walk (mmsnmptrapd.c:271-316) bug-for-bug."""

    def test_basic_and_trailing_comma(self):
        from rsyslog_spark.mods import parse_snmptrapd_severity_mapping

        assert parse_snmptrapd_severity_mapping("warning/4,error/3,") == [
            ("warning", 4), ("error", 3),
        ]
        assert parse_snmptrapd_severity_mapping("") == []

    def test_leading_trim_only(self):
        # getSubstring's trailing-trim loop tests *dst (already
        # non-space) and never fires — "warning /4" keeps the space
        from rsyslog_spark.mods import parse_snmptrapd_severity_mapping

        assert parse_snmptrapd_severity_mapping(" warning /4") == [
            ("warning ", 4)
        ]

    def test_missing_code_errors(self):
        from rsyslog_spark.mods import parse_snmptrapd_severity_mapping

        with pytest.raises(ValueError, match="cannot extract code"):
            parse_snmptrapd_severity_mapping("warning")
        with pytest.raises(ValueError, match="cannot extract code"):
            parse_snmptrapd_severity_mapping("warning/,x/1")

    def test_code_range_and_numeric(self):
        from rsyslog_spark.mods import parse_snmptrapd_severity_mapping

        with pytest.raises(ValueError, match="outside of valid"):
            parse_snmptrapd_severity_mapping("w/8")
        with pytest.raises(ValueError, match="outside of valid"):
            parse_snmptrapd_severity_mapping("w/-1")
        with pytest.raises(ValueError, match="outside of valid"):
            parse_snmptrapd_severity_mapping("w/4x")  # atoi+isNumeric
        # '+4' passes isNumeric (leading sign allowed, :141-142)
        assert parse_snmptrapd_severity_mapping("w/+4") == [("w", 4)]

    def test_duplicate_last_wins(self, spark):
        # nodes are PREPENDED (:303-305): the last definition wins
        from rsyslog_spark.mods import mm_snmptrapd

        raw = "<165>Mar  3 16:09:56 collector snmptrapd/w/h: trap"
        df = mm_snmptrapd(
            _parsed_df(spark, [raw]), severity_mapping="w/1,w/6"
        )
        assert df.select("syslogseverity").first()[0] == 6


# the exact message both reference mmexternal tests inject
RAW_EXT = "<129>Mar 10 01:00:00 172.20.245.8 tag:msgnum:1"

# the reference test plugin's reply (testsuites/
# mmexternal-SegFault-mm-python.py onReceive): parse the fulljson
# line, reply with a $! merge
_SEGFAULT_MM = """\
import sys, json
for line in sys.stdin:
    data = json.loads(line)
    print(json.dumps({"$!": {"sometag": "somevalue"}}))
    sys.stdout.flush()
"""


class TestMMExternal:
    """mmexternal (plugins/mmexternal/mmexternal.c + plugins/external/
    INTERFACE.md): child-per-partition line protocol, replies applied
    via MsgSetPropsViaJSON. The two e2e goldens reproduce the reference
    tests' cmp_exact lines byte-for-byte."""

    def _conf(self, script_path, pre=""):
        # the reference test runs everything in the default ruleset;
        # ours names it (the set precedes the if exactly like the .sh)
        return f"""
template(name="outfmt" type="string" string="-%$!%-")
ruleset(name="r") {{
    {pre}if $msg contains "msgnum:" then {{
        action(type="mmexternal" interface.input="fulljson"
               binary="python3 {script_path}")
        action(type="omfile" template="outfmt" file="/x/out.log")
    }}
}}
"""

    def test_segfault_golden(self, spark, tmp_path):
        """tests/mmexternal-SegFault.sh cmp_exact byte-exact:
        set $!x first, then the external $! merge appends sometag."""
        script = tmp_path / "mm.py"
        script.write_text(_SEGFAULT_MM)
        conf = self._conf(script, pre='set $!x = "a";\n')
        ann, actions = compile_config(
            _parsed_df(spark, [RAW_EXT]), conf, entry="r"
        )
        assert _render(ann, actions, "out") == [
            '-{ "x": "a", "sometag": "somevalue" }-'
        ]

    def test_empty_jroot_golden(self, spark, tmp_path):
        """tests/mmexternal-SegFault-empty-jroot-vg.sh cmp_exact: no
        prior $! -> the merge is the whole tree."""
        script = tmp_path / "mm.py"
        script.write_text(_SEGFAULT_MM)
        ann, actions = compile_config(
            _parsed_df(spark, [RAW_EXT]), self._conf(script), entry="r"
        )
        assert _render(ann, actions, "out") == [
            '-{ "sometag": "somevalue" }-'
        ]

    def test_off_path_rows_never_reach_child(self, spark, tmp_path):
        """doAction only sees messages on the action's path: a row
        failing the if must pass through unmodified AND not be written
        to the child (the script would crash on a non-JSON line)."""
        script = tmp_path / "mm.py"
        script.write_text(_SEGFAULT_MM)
        raws = [RAW_EXT, "<129>Mar 10 01:00:00 172.20.245.8 tag:other"]
        conf = self._conf(script) + """
template(name="all" type="string" string="%msg%|%$!%")
ruleset(name="r2") {
    call r
    action(type="omfile" template="all" file="/x/all.log")
}
"""
        ann, actions = compile_config(
            _parsed_df(spark, raws), conf, entry="r2"
        )
        assert sorted(_render(ann, actions, "all")) == [
            'msgnum:1|{ "sometag": "somevalue" }',
            "other|",
        ]

    def test_wellknown_props_and_gates(self, spark, tmp_path):
        """msgSetPropViaJSON walk: pri runs msgSetPRI (>191 -> 199,
        fac/sev re-derived); out-of-range facility ignored; unknown
        names ignored; syslogtag set re-derives programname."""
        script = tmp_path / "mm.py"
        script.write_text(
            "import sys, json\n"
            "for line in sys.stdin:\n"
            "    print(json.dumps({'pri': 200, 'syslogfacility': 99,"
            " 'syslogtag': 'newt[4]:', 'msgid': 'MID',"
            " 'no-such-prop': 'x'}))\n"
            "    sys.stdout.flush()\n"
        )
        from rsyslog_spark.external import mm_external

        df = mm_external(
            _parsed_df(spark, [RAW_EXT]), f"python3 {script}"
        )
        row = df.select(
            "pri", "syslogfacility", "syslogseverity", "syslogtag",
            "programname", "msgid",
        ).first()
        # msgSetPRI(200): clamp to LOG_PRI_INVLD 199 -> fac 24, sev 7;
        # the later syslogfacility=99 is out of 0..24 and ignored
        assert row["pri"] == 199
        assert row["syslogfacility"] == 24
        assert row["syslogseverity"] == 7
        assert row["syslogtag"] == "newt[4]:"
        assert row["programname"] == "newt"
        assert row["msgid"] == "MID"

    def test_invalid_reply_and_dead_child(self, spark, tmp_path):
        """RS_RET_JSON_UNUSABLE reply -> message kept unmodified; a
        child that dies mid-stream -> restart, then fake '{}'
        (processProgramReply emergency path)."""
        bad = tmp_path / "bad.py"
        bad.write_text(
            "import sys\n"
            "for line in sys.stdin:\n"
            "    print('not json')\n"
            "    sys.stdout.flush()\n"
        )
        from rsyslog_spark.external import mm_external

        df = mm_external(_parsed_df(spark, [RAW_EXT]), f"python3 {bad}")
        assert df.select("msg").first()[0] == "msgnum:1"
        dies = tmp_path / "dies.py"
        dies.write_text("import sys; sys.exit(3)\n")
        df2 = mm_external(
            _parsed_df(spark, [RAW_EXT]), f"python3 {dies}"
        )
        assert df2.select("msg").first()[0] == "msgnum:1"

    def test_msg_and_rawmsg_inputs(self, spark, tmp_path):
        """interface.input=msg feeds MSG; rawmsg feeds the raw line
        (callExtProg :450-459); the echo child proves which."""
        echo = tmp_path / "echo.py"
        echo.write_text(
            "import sys, json\n"
            "for line in sys.stdin:\n"
            "    print(json.dumps("
            "{'$!': {'got': line.rstrip(chr(10))}}))\n"
            "    sys.stdout.flush()\n"
        )
        from rsyslog_spark.external import mm_external

        base = _parsed_df(spark, [RAW_EXT])
        got_msg = (
            mm_external(base, f"python3 {echo}", interface_input="msg")
            .select(F.element_at("vars", "got")).first()[0]
        )
        assert got_msg == "msgnum:1"
        got_raw = (
            mm_external(
                base, f"python3 {echo}", interface_input="rawmsg"
            ).select(F.element_at("vars", "got")).first()[0]
        )
        assert got_raw == RAW_EXT

    def test_invalid_interface_input_config_error(self, spark):
        from rsyslog_spark.external import mm_external

        with pytest.raises(ValueError, match="interface.input"):
            mm_external(
                _parsed_df(spark, [RAW_EXT]), "cat",
                interface_input="json",
            )
        with pytest.raises(ValueError, match="mandatory parameter"):
            compile_config(
                _parsed_df(spark, [RAW_EXT]),
                'ruleset(name="r") { action(type="mmexternal") }',
                entry="r",
            )


# omprog child mirroring testsuites/omprog-feedback-bin.sh /
# omprog-transactions-bin.sh: startup OK, per-line transcript to
# argv[1], optional fail-twice on lines with 04/07, transaction marks
_PROG_SINK = """\
import sys
out = open(sys.argv[1], "a")
mode = sys.argv[2] if len(sys.argv) > 2 else "plain"
print("OK"); sys.stdout.flush()
out.write("<= OK\\n"); out.flush()
retry = {}
in_tx = False
fail_commit = False
for line in sys.stdin:
    msg = line.rstrip("\\n")
    out.write("=> " + msg + "\\n"); out.flush()
    if msg == "BEGIN TRANSACTION":
        in_tx = True; status = "OK"
    elif msg == "COMMIT TRANSACTION":
        in_tx = False
        status = "Error: could not commit" if fail_commit else "OK"
        fail_commit = False
    elif in_tx:
        status = "DEFER_COMMIT"
    else:
        status = "OK"
    if mode in ("feedback", "failed_commits") and (
        "04" in msg or "07" in msg
    ) and msg not in ("BEGIN TRANSACTION", "COMMIT TRANSACTION"):
        n = retry.get(msg, 0)
        if n < 2:
            retry[msg] = n + 1
            if mode == "failed_commits":
                fail_commit = True
            else:
                status = "Error: could not process log message"
        else:
            retry[msg] = 0
    out.write("<= " + status + "\\n"); out.flush()
    print(status); sys.stdout.flush()
"""


class TestOmProg:
    """omprog (plugins/omprog/omprog.c) — program-as-sink with
    confirmMessages / useTransactions / retry semantics distilled from
    the reference e2e suite (omprog-defaults / -feedback /
    -transactions .sh)."""

    def _df(self, spark, n=10):
        return spark.createDataFrame(
            [(f"msgnum:{i:08d}",) for i in range(n)], "line string"
        )

    def _run(self, spark, tmp_path, mode, n=10, **kw):
        script = tmp_path / "sink.py"
        script.write_text(_PROG_SINK)
        transcript = tmp_path / "transcript.log"
        out = external_mod.om_prog(
            self._df(spark, n),
            "line",
            f"python3 {script} {transcript} {mode}",
            force_single_instance=True,
            **kw,
        ).collect()
        lines = (
            transcript.read_text().splitlines()
            if transcript.exists()
            else []
        )
        return {r["line"]: r["prog_status"] for r in out}, lines

    def test_defaults_no_confirm(self, spark, tmp_path):
        """omprog-defaults.sh: every rendered line reaches the child in
        order; statuses are 'ok' without reading replies."""
        st, lines = self._run(spark, tmp_path, "plain")
        assert set(st.values()) == {"ok"}
        got = [x[3:] for x in lines if x.startswith("=> ")]
        assert got == [f"msgnum:{i:08d}" for i in range(10)]

    def test_feedback_retry(self, spark, tmp_path):
        """omprog-feedback.sh: messages containing 04/07 fail twice
        then succeed; with the resumeRetryCount loop all deliver."""
        st, lines = self._run(
            spark, tmp_path, "feedback",
            confirm_messages=True, resume_retry_count=10,
        )
        assert set(st.values()) == {"ok"}
        # the failing messages appear 3x in the child transcript
        sent = [x[3:] for x in lines if x.startswith("=> ")]
        assert sent.count("msgnum:00000004") == 3
        assert sent.count("msgnum:00000007") == 3
        assert sent.count("msgnum:00000001") == 1

    def test_feedback_no_retry_reports_error(self, spark, tmp_path):
        st, _ = self._run(
            spark, tmp_path, "feedback", confirm_messages=True
        )
        assert st["msgnum:00000004"].startswith("error:Error")
        assert st["msgnum:00000001"] == "ok"

    def test_transactions_confirmed(self, spark, tmp_path):
        """omprog-transactions.sh distilled: BEGIN/COMMIT marks bracket
        the messages, in-transaction lines answer DEFER_COMMIT, the
        confirmed commit resolves every row to ok."""
        st, lines = self._run(
            spark, tmp_path, "plain",
            confirm_messages=True, use_transactions=True,
        )
        assert set(st.values()) == {"ok"}
        sent = [x[3:] for x in lines if x.startswith("=> ")]
        assert sent[0] == "BEGIN TRANSACTION"
        assert sent[-1] == "COMMIT TRANSACTION"
        assert sent[1:-1] == [f"msgnum:{i:08d}" for i in range(10)]
        replies = [x[3:] for x in lines if x.startswith("<= ")]
        # startup OK, begin OK, 10x DEFER_COMMIT, commit OK
        assert replies == ["OK", "OK"] + ["DEFER_COMMIT"] * 10 + ["OK"]

    def test_transactions_failed_commit(self, spark, tmp_path):
        """omprog-transactions-failed-commits.sh shape: a failed commit
        reply turns every deferred row into a commit error."""
        st, _ = self._run(
            spark, tmp_path, "failed_commits", n=5,
            confirm_messages=True, use_transactions=True,
        )
        assert all(v.startswith("error:commit:") for v in st.values())

    def test_yields_each_batch_before_pulling_the_next(self, spark):
        """Without transactions a row's status is final once its line is
        sent, so each batch's frame leaves before the next batch is
        pulled: the partition is never held whole in memory."""
        import sys

        import pandas as pd

        class _Frame:  # what om_prog reads of its DataFrame
            schema = spark.createDataFrame([], "line string").schema

            def mapInPandas(self, fn, schema):
                return fn

        pulled = []

        def batches():
            for i in range(2):
                pulled.append(i)
                yield pd.DataFrame({"line": [f"msgnum:{i}"]})

        proc = external_mod.om_prog(
            _Frame(), "line", f"{sys.executable} -c 'import sys; sys.stdin.read()'"
        )
        frames = proc(batches())
        first = next(frames)
        assert pulled == [0]
        assert first.to_dict("records") == [
            {"line": "msgnum:0", "prog_status": "ok"}
        ]
        assert next(frames)["line"].tolist() == ["msgnum:1"]
        assert pulled == [0, 1]
        assert next(frames, None) is None

    def test_startup_failure_marks_partition(self, spark, tmp_path):
        bad = tmp_path / "bad.py"
        bad.write_text("print('Error: not ready')\n")
        out = external_mod.om_prog(
            self._df(spark, 3), "line", f"python3 {bad}",
            confirm_messages=True, force_single_instance=True,
        ).collect()
        assert all(
            r["prog_status"].startswith("error") for r in out
        )

    def test_config_face_e2e(self, spark, tmp_path):
        """action(type="omprog" ...) through config text: the Action
        filters/renders like omfile (omprog-defaults.sh config shape),
        cfg.prog_sinks carries the pump spec, and the child receives
        the template-rendered lines."""
        from rsyslog_spark.config import parse_config

        script = tmp_path / "sink.py"
        script.write_text(_PROG_SINK)
        transcript = tmp_path / "t.log"
        conf = f"""
template(name="outfmt" type="string" string="%msg%")
ruleset(name="r") {{
    if $msg contains "msgnum:" then {{
        action(type="omprog" name="prog"
               binary="python3 {script} {transcript} plain"
               template="outfmt" confirmMessages="on")
    }}
}}
"""
        cfg = parse_config(conf)
        rc = cfg.compiler()
        ann, actions = rc.compile(_parsed_df(spark, [RAW_EXT]), "r")
        a = next(x for x in actions if x.sink == "prog")
        spec = cfg.prog_sinks["prog"]
        assert spec["confirm_messages"] is True
        res = external_mod.om_prog(
            a.output(ann), a.out_col,
            spec["binary"],
            confirm_messages=spec["confirm_messages"],
            force_single_instance=True,
        ).collect()
        assert [r["prog_status"] for r in res] == ["ok"]
        sent = [
            x[3:] for x in transcript.read_text().splitlines()
            if x.startswith("=> ")
        ]
        assert sent == ["msgnum:1"]


class TestSetPropsViaJSONWalk:
    """msg_set_props_via_json unit goldens (msg.c:4599-4746)."""

    def test_merge_replaces_toplevel_subtree(self):
        from rsyslog_spark.external import msg_set_props_via_json

        row = {"vars": {"a!b": "1", "a!c": "2", "z": "9"}}
        out = msg_set_props_via_json(
            row, '{"$!": {"a": {"d": "3"}}}'
        )
        # jsonMerge: top-level key 'a' REPLACES the whole a-subtree
        assert out["vars"] == {"z": "9", "a!d": "3"}

    def test_json_get_int_strtol(self):
        from rsyslog_spark.external import json_get_int

        assert json_get_int(" -7x") == -7
        assert json_get_int("abc") == 0
        assert json_get_int(True) == 1
        assert json_get_int(3.9) == 3
        assert json_get_int(None) == 0

    def test_key_order_matters(self):
        from rsyslog_spark.external import msg_set_props_via_json

        row = {"pri": 165, "syslogfacility": 20, "syslogseverity": 5}
        # pri first, then severity override — json iteration order
        out = msg_set_props_via_json(
            row, '{"pri": 9, "syslogseverity": 6}'
        )
        assert (out["syslogfacility"], out["syslogseverity"]) == (1, 6)
        assert out["pri"] == 14


class TestAuditWalk:
    """audit_record_fields vs the hand-traced C walk (mmaudit.c)."""

    def test_typical_record(self):
        r = audit_record_fields(
            "type=1305 audit(1234.567:89): auid=4294967295 ses=4294967295"
            " op=\"remove rule\" list=5 res=1"
        )
        assert r["audit!hdr!type"] == "1305"
        # sizeof(" audit(") quirk: the id's first char is dropped
        assert r["audit!hdr!auditid"] == "234.567:89"
        assert r["audit!data!auid"] == "4294967295"
        assert r["audit!data!op"] == "remove rule"
        assert r["audit!data!res"] == "1"

    def test_quote_leak_quirk(self):
        # parseValue stops AT the closing quote without consuming it,
        # so the next name leaks the quote + separator (C behavior)
        r = audit_record_fields("type=1400 audit(99.1:2): msg='hello x' pid=42")
        assert r["audit!data!msg"] == "hello x"
        assert r["audit!data!' pid"] == "42"

    def test_partial_commit_on_missing_equals(self):
        # audit_parse's error return is ignored by doAction: pairs
        # parsed before the malformed token are committed, success=1
        r = audit_record_fields("type=1 audit(55.0:1): a=1 borked")
        assert r is not None and r["audit!data!a"] == "1"
        assert "audit!data!borked" not in r

    def test_rejections(self):
        assert audit_record_fields("plain syslog line") is None
        assert audit_record_fields("type=13x audit(1:2): a=1") is None
        assert audit_record_fields("type=13 audit(1:2 no paren") is None
        assert audit_record_fields("   ") is None
        assert audit_record_fields(None) is None

    def test_leading_whitespace_skipped(self):
        r = audit_record_fields("  \ttype=2 audit(70.5:3): k=v")
        assert r["audit!hdr!type"] == "2"
        assert r["audit!data!k"] == "v"


class TestMMAudit:
    # res BEFORE the quoted value: a name directly after a quoted value
    # inherits the leaked quote (C quirk, covered in TestAuditWalk)
    AUDIT_MSG = (
        "type=1305 audit(1234.567:89): auid=4294967295 res=1"
        " op=\"remove rule\""
    )

    def _df(self, spark):
        # craft one audit row + one plain row through the real parser
        raws = [
            "<46>Mar  3 16:09:56 host kernel: " + self.AUDIT_MSG,
            "<46>Mar  3 16:09:56 host kernel: normal line",
        ]
        return _parsed_df(spark, raws)

    def test_dataframe_level(self, spark):
        out = mm_audit(self._df(spark)).select(
            "msg", "vars", "parse_success"
        ).collect()
        by_audit = {("audit" in r["msg"]): r for r in out}
        hit, miss = by_audit[True], by_audit[False]
        assert hit["parse_success"] is True
        assert hit["vars"]["audit!hdr!type"] == "1305"
        assert hit["vars"]["audit!hdr!auditid"] == "234.567:89"
        assert hit["vars"]["audit!data!op"] == "remove rule"
        assert miss["parse_success"] is False
        assert not miss["vars"]

    def test_config_text_action(self, spark):
        conf = """
template(name="t" type="string"
         string="%$!audit!hdr!type%|%$!audit!data!res%")
ruleset(name="r") {
    action(type="mmaudit")
    if ($!audit!hdr!type != "") then {
        action(type="omfile" file="/x/audit.log" template="t")
    }
}
"""
        ann, actions = compile_config(self._df(spark), conf, entry="r")
        assert _render(ann, actions, "audit") == ["1305|1"]

    def test_msg_leading_space_from_3164(self, spark):
        # RFC3164 MSG after "TAG: " keeps no leading space here (the
        # parser strips at TAG boundary) — but an explicit leading
        # space in MSG must still be skipped by the audit walk
        assert audit_record_fields(" type=9 audit(11.0:4): x=y") is not None


class TestMMRfc5424AddHmac:
    KEY, SDID = "s3cr3t", "hmac@32473"

    def _expected(self, raw):
        mac = hmaclib.new(
            self.KEY.encode(), raw.encode(), hashlib.sha256
        ).hexdigest()
        return f'[{self.SDID} hash="{mac}"]'

    def test_kernel_golden(self):
        raw = RAW_5424
        exp = self._expected(raw)
        assert hmac_sd_element(
            raw, "-", self.KEY.encode(), "sha256", self.SDID
        ) == exp
        # existing SD: string append, no separator (msg.c:5205-5224)
        assert hmac_sd_element(
            raw, '[x@1 a="b"]', self.KEY.encode(), "sha256", self.SDID
        ) == '[x@1 a="b"]' + exp
        # already present (any position): untouched
        assert hmac_sd_element(
            raw, f'[{self.SDID} hash="z"]', self.KEY.encode(), "sha256",
            self.SDID,
        ) is None
        assert hmac_sd_element(
            raw, f'[a@1 x="y"][{self.SDID} hash="z"]', self.KEY.encode(),
            "sha256", self.SDID,
        ) is None
        # prefix SD-IDs do not false-positive (token ends at =/ /]/")
        assert hmac_sd_element(
            raw, '[hmac@324730 x="y"]', self.KEY.encode(), "sha256",
            self.SDID,
        ) is not None

    def test_dataframe_level_and_idempotence(self, spark):
        raw3164 = "<46>Mar  3 16:09:56 host app: hello"
        df = _parsed_df(spark, [RAW_5424, raw3164])
        out = mm_rfc5424addhmac(
            df, key=self.KEY, hashfunction="sha256", sd_id=self.SDID
        )
        rows = {r["protocol_version"]: r for r in
                out.select("protocol_version", "structured_data",
                           "rawmsg").collect()}
        assert rows[1]["structured_data"] == self._expected(
            rows[1]["rawmsg"]
        )
        # non-RFC5424 untouched
        assert rows[0]["structured_data"] in (None, "-", "")
        # second application is a no-op (isHmacPresent)
        again = mm_rfc5424addhmac(
            out, key=self.KEY, hashfunction="sha256", sd_id=self.SDID
        )
        r2 = {r["protocol_version"]: r for r in
              again.select("protocol_version", "structured_data").collect()}
        assert r2[1]["structured_data"] == rows[1]["structured_data"]

    def test_config_text_action(self, spark):
        conf = f"""
template(name="t" type="string" string="%structured-data%")
ruleset(name="r") {{
    action(type="mmrfc5424addhmac" key="{self.KEY}"
           hashfunction="sha256" sd_id="{self.SDID}")
    action(type="omfile" file="/x/sd.log" template="t")
}}
"""
        ann, actions = compile_config(
            _parsed_df(spark, [RAW_5424]), conf, entry="r"
        )
        raw = ann.select("rawmsg").first()["rawmsg"]
        assert _render(ann, actions, "sd") == [self._expected(raw)]

    def test_mandatory_params(self, spark):
        with pytest.raises(ValueError, match="mandatory"):
            compile_config(
                _parsed_df(spark, [RAW_5424]),
                'ruleset(name="r") { action(type="mmrfc5424addhmac" '
                'key="k") }',
                entry="r",
            )
        with pytest.raises(ValueError, match="unknown"):
            compile_config(
                _parsed_df(spark, [RAW_5424]),
                'ruleset(name="r") { action(type="mmrfc5424addhmac" '
                'key="k" hashfunction="nope" sd_id="x@1") }',
                entry="r",
            )

    def test_unknown_hash_df_level(self, spark):
        with pytest.raises(ValueError, match="unknown"):
            mm_rfc5424addhmac(
                _parsed_df(spark, [RAW_5424]), key="k",
                hashfunction="not-a-digest", sd_id="x@1",
            )


class TestGrokCompile:
    """grok_compile: %{NAME:key[:type]} expansion, numbering, errors."""

    def test_basic_compile(self):
        from rsyslog_spark.mods import grok_compile

        regex, keys = grok_compile(
            "%{IPV4:client} %{WORD:method} %{NOTSPACE:path}"
        )
        assert [k for k, _ in keys] == ["client", "method", "path"]
        import re

        m = re.search(regex, "10.0.0.1 GET /index.html")
        assert m.group(1) == "10.0.0.1"
        assert m.group(2) == "GET"
        assert m.group(3) == "/index.html"

    def test_unnamed_and_type_suffix(self):
        from rsyslog_spark.mods import grok_compile

        # unnamed refs don't capture; :type is parsed then ignored
        regex, keys = grok_compile("%{WORD} id=%{INT:id:int}")
        assert keys == [("id", 1)]
        import re

        assert re.search(regex, "x id=-42").group(1) == "-42"

    def test_composite_patterns_keep_numbering(self):
        from rsyslog_spark.mods import grok_compile

        # NUMBER expands through BASE10NUM; SYSLOGTIMESTAMP through
        # MONTH/MONTHDAY/TIME — inner groups must not shift numbering
        regex, keys = grok_compile(
            "%{SYSLOGTIMESTAMP:ts} v=%{NUMBER:v}"
        )
        assert keys == [("ts", 1), ("v", 2)]
        import re

        m = re.search(regex, "Mar  8 11:53:48 v=2.5")
        assert m.group(1) == "Mar  8 11:53:48" and m.group(2) == "2.5"

    def test_unknown_pattern_loud(self):
        from rsyslog_spark.mods import grok_compile

        with pytest.raises(ValueError, match="unknown grok pattern"):
            grok_compile("%{NOPE:x}")

    def test_cycle_detected(self):
        from rsyslog_spark.mods import grok_compile

        with pytest.raises(ValueError, match="recursion"):
            grok_compile("%{A:x}", {"A": "%{B}", "B": "%{A}"})

    def test_duplicate_key_last_wins(self):
        from rsyslog_spark.mods import grok_compile

        regex, keys = grok_compile("%{WORD:k} %{WORD:k}")
        assert keys == [("k", 2)]

    def test_patterndir_file(self, tmp_path):
        from rsyslog_spark.mods import grok_compile, load_grok_patterns

        pf = tmp_path / "custom.patterns"
        pf.write_text("# custom\nMYAPP app-[a-z]+\n")
        pats = load_grok_patterns(str(pf))
        regex, keys = grok_compile("%{MYAPP:app}", pats)
        import re

        assert re.search(regex, "x app-foo y").group(1) == "app-foo"


class TestMMGrok:
    def _df(self, spark, msgs):
        rows = [(i, m) for i, m in enumerate(msgs)]
        return spark.createDataFrame(rows, "i long, msg string")

    def test_dataframe_level(self, spark):
        from rsyslog_spark.mods import mm_grok

        df = self._df(spark, [
            "client 10.1.2.3 did GET",
            "no match here",
        ])
        out = mm_grok(
            df, "client %{IPV4:ip} did %{WORD:verb}", target="!grok"
        )
        rows = {r["i"]: dict(r["vars"]) for r in out.collect()}
        assert rows[0] == {"grok!ip": "10.1.2.3", "grok!verb": "GET"}
        assert rows[1] == {}  # unmatched: target never written

    def test_last_matching_line_wins(self, spark):
        from rsyslog_spark.mods import mm_grok

        # doAction splits on newlines; msgAddJSON per line REPLACES the
        # target, so the last matching line's captures survive
        df = self._df(spark, ["id=1\nnot a match\nid=2"])
        out = mm_grok(df, "id=%{INT:n}", target="!g")
        assert dict(out.first()["vars"]) == {"g!n": "2"}

    def test_leading_whitespace_and_search_semantics(self, spark):
        from rsyslog_spark.mods import mm_grok

        # grok_exec is a SEARCH, not anchored; leading ws skipped
        df = self._df(spark, ["   prefix id=7 suffix"])
        out = mm_grok(df, "id=%{INT:n}", target="!g")
        assert dict(out.first()["vars"]) == {"g!n": "7"}

    def test_config_text_action(self, spark):
        conf = """
template(name="t" type="string" string="%$!g!ip%/%$!g!host%")
ruleset(name="r") {
    action(type="mmgrok" match="from %{IPV4:ip} host %{WORD:host}"
           target="!g")
    if ($!g!ip != "") then {
        action(type="omfile" file="/x/grok.log" template="t")
    }
}
"""
        df = self._df(spark, ["from 192.168.0.9 host web01", "nope"])
        ann, actions = compile_config(df, conf, entry="r")
        assert _render(ann, actions, "grok") == ["192.168.0.9/web01"]

    def test_config_missing_match_loud(self, spark):
        with pytest.raises(ValueError, match="match"):
            compile_config(
                self._df(spark, ["x"]),
                'ruleset(name="r") { action(type="mmgrok") }',
                entry="r",
            )

    def test_target_replace_semantics(self, spark):
        from pyspark.sql import functions as F

        from rsyslog_spark.mods import mm_grok

        # pre-existing subtree keys are wiped by msgAddJSON replace
        df = self._df(spark, ["id=5"]).withColumn(
            "vars",
            F.create_map(
                F.lit("g!old"), F.lit("stale"),
                F.lit("other"), F.lit("keep"),
            ),
        )
        out = mm_grok(df, "id=%{INT:n}", target="!g")
        assert dict(out.first()["vars"]) == {
            "other": "keep", "g!n": "5",
        }


class TestMMDbLookup:
    """mmdblookup (plugins/mmdblookup/mmdblookup.c) over the pure-
    Python MMDB reader — the reference e2e goldens (tests/mmdb.sh,
    mmdb-multilevel-vg.sh, mmdb-container.sh shapes) reproduced on a
    self-written fixture, plus reader parity vs the reference's own
    checked-in test.mmdb."""

    RAW = "<129>Mar 10 01:00:00 h tag: 202.106.0.20 x"

    def _fixture(self, tmp_path):
        from rsyslog_spark.mmdb import write_mmdb

        p = tmp_path / "test.mmdb"
        write_mmdb(str(p), {
            "202.106.0.20/32": {"city": "Beijing"},
            "10.0.0.0/8": {
                "city": "Ten",
                "location": {"lat": 1.5, "cc": "TC"},
            },
        })
        return p

    def _conf(self, mmdb, fields, pre="", tpl="%$!iplocation%"):
        return f"""
{pre}template(name="t" type="string" string="{tpl}")
ruleset(name="r") {{
    action(type="mmnormalize" rule=["rule=: %ip:word% %rest:rest%"])
    action(type="mmdblookup" mmdbfile="{mmdb}" key="$!ip"
           fields={fields})
    action(type="omfile" file="/x/out.log" template="t")
}}
"""

    def test_mmdb_sh_golden(self, spark, tmp_path):
        """tests/mmdb.sh content_check byte-exact."""
        ann, actions = compile_config(
            _parsed_df(spark, [self.RAW]),
            self._conf(self._fixture(tmp_path), '"city"'),
            entry="r",
        )
        assert _render(ann, actions, "out") == ['{ "city": "Beijing" }']

    def test_multilevel_varname_golden(self, spark, tmp_path):
        """mmdb-multilevel-vg.sh: ':city_name:city' renames the
        field."""
        ann, actions = compile_config(
            _parsed_df(spark, [self.RAW]),
            self._conf(self._fixture(tmp_path), '":city_name:city"'),
            entry="r",
        )
        assert _render(ann, actions, "out") == [
            '{ "city_name": "Beijing" }'
        ]

    def test_container_override_and_nested_path(self, spark, tmp_path):
        """module(load="mmdblookup" container="!geo") relocates the
        results; a '!'-separated field path walks the record subtree
        (doAction :416-434); a dict value flattens into the bag."""
        raw = "<129>Mar 10 01:00:00 h tag: 10.1.2.3 x"
        conf = self._conf(
            self._fixture(tmp_path),
            '["city", ":lat:location!lat", "location"]',
            pre='module(load="mmdblookup" container="!geo")\n',
            tpl="%$!geo!city%|%$!geo!lat%|%$!geo!location!cc%",
        )
        ann, actions = compile_config(
            _parsed_df(spark, [raw]), conf, entry="r"
        )
        assert _render(ann, actions, "out") == ["Ten|1.5|TC"]

    def test_not_found_and_invalid_are_noops(self, spark, tmp_path):
        raws = [
            "<129>Mar 10 01:00:00 h tag: 9.9.9.9 x",      # no entry
            "<129>Mar 10 01:00:00 h tag: not-an-ip x",    # gai error
        ]
        ann, actions = compile_config(
            _parsed_df(spark, raws),
            self._conf(self._fixture(tmp_path), '"city"'),
            entry="r",
        )
        assert _render(ann, actions, "out") == ["", ""]

    def test_config_errors(self, spark, tmp_path):
        from rsyslog_spark.config import parse_config

        with pytest.raises(ValueError, match="mandatory"):
            parse_config(
                'ruleset(name="r") { action(type="mmdblookup" '
                'key="$!ip") }'
            )
        with pytest.raises(ValueError, match="missing closing colon"):
            from rsyslog_spark.mods import _dblookup_fields

            _dblookup_fields(":broken", "!iplocation")

    def test_reader_parity_vs_reference_fixture(self):
        """The reference's own checked-in fixtures read identically
        (tests/test.mmdb + with_space.mmdb — the mmdb-space.sh
        value)."""
        import os

        from rsyslog_spark.mmdb import MMDBReader

        ref = "/root/reference/tests/test.mmdb"
        if not os.path.exists(ref):
            pytest.skip("reference fixture not available")
        r = MMDBReader.open(ref)
        assert r.lookup("202.106.0.20") == {"city": "Beijing"}
        assert r.lookup("8.8.8.8") is None
        s = MMDBReader.open(
            "/root/reference/tests/with_space.mmdb"
        )
        assert s.lookup("202.106.0.20") == {"city": "Bei ing"}

    def test_writer_reader_roundtrip_v6(self, tmp_path):
        from rsyslog_spark.mmdb import MMDBReader, write_mmdb

        p = tmp_path / "v6.mmdb"
        write_mmdb(
            str(p), {"2001:db8::/32": {"net": "doc"}}, ip_version=6
        )
        r = MMDBReader.open(str(p))
        assert r.lookup("2001:db8::1") == {"net": "doc"}
        assert r.lookup("2001:db9::1") is None


class TestMMDBFormat:
    """MMDB format edge cases: signed int32, a v4 lookup that meets a
    data record inside the ::/96 walk, and nested networks."""

    def test_int32_sign_extended(self, tmp_path):
        from rsyslog_spark.mmdb import MMDBReader, write_mmdb

        p = tmp_path / "x.mmdb"
        write_mmdb(str(p), {"10.0.0.0/8": {"a": "b"}})
        r = MMDBReader.open(str(p))
        # extended type byte 1 (7 + 1 = int32), size 4, payload -1
        assert r._decode(bytes([0x04, 0x01, 0xFF, 0xFF, 0xFF, 0xFF]), 0) \
            == (-1, 6)
        assert r._decode(bytes([0x04, 0x01, 0x80, 0, 0, 0]), 0) \
            == (-(2 ** 31), 6)
        # shorter fields are always positive (libmaxminddb casts the
        # decoded uint to int32)
        assert r._decode(bytes([0x02, 0x01, 0xFF, 0x00]), 0) == (65280, 4)
        assert r._decode(bytes([0x00, 0x01]), 0) == (0, 2)

    def test_v4_in_v6_meets_data_record(self, tmp_path):
        from rsyslog_spark.mmdb import MMDBReader, write_mmdb

        p = tmp_path / "v6.mmdb"
        write_mmdb(str(p), {"::/8": {"net": "low"}}, ip_version=6)
        r = MMDBReader.open(str(p))
        assert r.lookup("1.2.3.4") == {"net": "low"}
        # the interval enumeration covers the same address (a v4
        # address sits under ::/96, so its v6 value is its v4 value)
        v = int(ipaddress.ip_address("1.2.3.4"))
        assert any(
            a <= v <= b and rec == {"net": "low"}
            for a, b, rec in r.networks()
        )

    @pytest.mark.parametrize("order", ["outer_first", "inner_first"])
    def test_nested_networks_either_order(self, tmp_path, order):
        from rsyslog_spark.mmdb import MMDBReader, write_mmdb

        nets = [
            ("10.0.0.0/8", {"net": "eight"}),
            ("10.1.0.0/16", {"net": "sixteen"}),
        ]
        if order == "inner_first":
            nets.reverse()
        p = tmp_path / "nested.mmdb"
        write_mmdb(str(p), dict(nets))
        r = MMDBReader.open(str(p))
        assert r.lookup("10.2.3.4") == {"net": "eight"}
        assert r.lookup("10.255.0.1") == {"net": "eight"}
        assert r.lookup("10.1.2.3") == {"net": "sixteen"}
        assert r.lookup("11.0.0.1") is None
        # lookup() and the interval enumeration agree on every probe
        ivals = r.networks()
        for ip in ("10.0.0.1", "10.1.0.0", "10.1.255.255", "10.2.3.4"):
            v = int(ipaddress.ip_address(ip))
            hits = [rec for a, b, rec in ivals if a <= v <= b]
            assert hits == [r.lookup(ip)]


# omprog child for the PREVIOUS_COMMITTED case: every in-transaction
# line is deferred except msgnum:...03, which reports that everything
# before it was committed; the final COMMIT fails
_PROG_PREV_COMMITTED = """\
import sys
print("OK"); sys.stdout.flush()
for line in sys.stdin:
    msg = line.rstrip("\\n")
    if msg == "BEGIN TRANSACTION":
        status = "OK"
    elif msg == "COMMIT TRANSACTION":
        status = "Error: could not commit"
    elif msg.endswith("03"):
        status = "PREVIOUS_COMMITTED"
    else:
        status = "DEFER_COMMIT"
    print(status); sys.stdout.flush()
"""


class TestOmProgPreviousCommitted:
    def test_previous_committed_resolves_earlier_rows(self, spark, tmp_path):
        """PREVIOUS_COMMITTED (plugins/external/INTERFACE.md): the
        records before the current one are committed, so a later
        failed COMMIT marks only the current and later rows."""
        script = tmp_path / "prev.py"
        script.write_text(_PROG_PREV_COMMITTED)
        df = spark.createDataFrame(
            [(f"msgnum:{i:08d}",) for i in range(6)], "line string"
        )
        out = external_mod.om_prog(
            df, "line", f"python3 {script}",
            confirm_messages=True, use_transactions=True,
            force_single_instance=True,
        ).collect()
        st = {r["line"]: r["prog_status"] for r in out}
        for i in range(3):
            assert st[f"msgnum:{i:08d}"] == "ok"
        for i in range(3, 6):
            assert st[f"msgnum:{i:08d}"].startswith("error:commit:")


def _split_top(s: str) -> list[str]:
    """Split at the commas outside any parentheses or brackets."""
    parts, depth, cur = [], 0, ""
    for c in s:
        depth += (c in "([") - (c in ")]")
        if c == "," and depth == 0:
            parts.append(cur.strip())
            cur = ""
        else:
            cur += c
    return parts + [cur.strip()]


def _udf_args(plan: str) -> list[str]:
    """Every argument of every Python UDF call in the executed plan's
    ``ArrowEvalPython [f(a, b)#1, g(c)#2], ...`` nodes."""
    args = []
    for line in plan.splitlines():
        at = line.find("ArrowEvalPython [")
        if at < 0:
            continue
        body, depth = line[at + len("ArrowEvalPython ["):], 1
        for end, c in enumerate(body):
            depth += (c in "([") - (c in ")]")
            if depth == 0:
                break
        for call in _split_top(body[:end]):
            args += _split_top(call[call.index("(") + 1:call.rindex(")")])
    return args


class TestGatedUDFs:
    """A routed mm* action's Python UDFs see only the rows on its
    path: off-path rows cross the Arrow boundary as nulls and keep
    every column; on-path rows get exactly the ungated function's
    output."""

    AUDIT = "type=1100 audit(1700000000.123:42): pid=7 addr=10.1.2.3 res=1"

    def _raws(self):
        on = f"<38>1 2024-01-01T00:00:00Z h1 audispd 9 - - {self.AUDIT}"
        off = [
            # same audit body under another app: the ungated walk would
            # parse it, the gated one must not
            f"<38>1 2024-01-01T00:00:{i % 60:02d}Z h{i} auditd {i} - - "
            f"{self.AUDIT.replace(':42', f':{i}')}"
            for i in range(60)
        ] + [
            f"<46>Mar  3 16:09:{i % 60:02d} h{i} sshd[{i}]: "
            f"Accepted key from 10.9.{i}.1"
            for i in range(39)
        ]
        return [on] + off

    def _conf(self, mmdb):
        return f"""
ruleset(name="r") {{
    if $programname == "audispd" then {{
        action(type="mmaudit")
        action(type="mmrfc5424addhmac" key="k" hashfunction="sha256"
               sd_id="hmac@1")
        action(type="mmdblookup" mmdbfile="{mmdb}"
               key="$!audit!data!addr" fields=["city"])
    }}
}}
"""

    def _mmdb(self, tmp_path):
        from rsyslog_spark.mmdb import write_mmdb

        p = tmp_path / "gate.mmdb"
        write_mmdb(str(p), {"10.0.0.0/8": {"city": "Ten"}})
        return str(p)

    def test_plan_gates_every_python_udf(self, spark, tmp_path):
        base = _parsed_df(spark, self._raws())
        ann, _ = compile_config(base, self._conf(self._mmdb(tmp_path)),
                                entry="r")
        ann.collect()
        plan = ann._jdf.queryExecution().executedPlan().toString()
        args = _udf_args(plan)
        # mmaudit: 1 argument, hmac: 2, dblookup: 2 — each one is null
        # unless the row is on the if's path (hmac: and RFC5424)
        assert len(args) == 5, plan
        gate = re.compile(
            r"CASE WHEN (_cond_\d+#\d+|\(_cond_\d+#\d+ AND "
            r"\(protocol_version#\d+ = 1\)\)) THEN "
        )
        assert all(gate.match(a) for a in args), args

    def test_rows_off_path_unchanged_on_path_ungated(
        self, spark, tmp_path
    ):
        from rsyslog_spark.mods import mm_dblookup

        mmdb = self._mmdb(tmp_path)
        base = _parsed_df(spark, self._raws()).withColumn(
            "vars", F.create_map().cast("map<string,string>")
        )
        cols = base.columns  # the parser's columns, parse_success, vars
        ann, _ = compile_config(base, self._conf(mmdb), entry="r")
        got = {r["rawmsg"]: r for r in ann.select(*cols).collect()}
        on = F.col("programname") == "audispd"
        before = {
            r["rawmsg"]: r for r in base.filter(~on).collect()
        }
        assert len(before) == 99 and len(got) == 100
        for k, row in before.items():
            assert got[k].asDict() == row.asDict(), k
        ungated = mm_dblookup(
            mm_rfc5424addhmac(
                mm_audit(base.filter(on)), key="k",
                hashfunction="sha256", sd_id="hmac@1",
            ),
            key="$!audit!data!addr", mmdbfile=mmdb, fields=["city"],
        ).select(*cols).collect()
        assert len(ungated) == 1
        exp = ungated[0]
        assert exp["vars"]["iplocation!city"] == "Ten"
        assert exp["parse_success"] is True
        assert got[exp["rawmsg"]].asDict() == exp.asDict()

    @pytest.mark.parametrize(
        "action",
        ["taghostname", "audit", "addhmac", "grok", "dblookup",
         "snmptrapd"],
    )
    def test_false_gate_keeps_every_column(self, spark, tmp_path, action):
        from rsyslog_spark.mods import mm_dblookup, mm_grok, mm_snmptrapd

        mmdb = self._mmdb(tmp_path)
        raws = self._raws()[:3] + [
            "<165>Mar  3 16:09:56 c snmptrapd/warning/h.example: trap"
        ]
        base = _parsed_df(spark, raws).withColumn(
            "vars", F.create_map(F.lit("audit!data!addr"), F.lit("10.1.2.3"))
        ).withColumn("parse_success", F.lit(False))
        fn = {
            "taghostname": lambda df, a: mm_taghostname(
                df, tag="new[1]:", force_localhostname=True, active=a),
            "audit": lambda df, a: mm_audit(df, active=a),
            "addhmac": lambda df, a: mm_rfc5424addhmac(
                df, key="k", sd_id="hmac@1", active=a),
            "grok": lambda df, a: mm_grok(
                df, "%{WORD:w}", target="!g", active=a),
            "dblookup": lambda df, a: mm_dblookup(
                df, key="$!audit!data!addr", mmdbfile=mmdb,
                fields=["city"], active=a),
            "snmptrapd": lambda df, a: mm_snmptrapd(
                df, severity_mapping="warning/4", active=a),
        }[action]
        want = base.collect()
        off = fn(base, F.lit(False))
        assert off.columns == base.columns
        assert off.collect() == want
        # a true gate gives the ungated output
        assert fn(base, F.lit(True)).collect() == fn(base, None).collect()
        assert fn(base, None).collect() != want
