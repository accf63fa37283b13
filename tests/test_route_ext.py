"""foreach / call_indirect / queued call / config arithmetic+functions.

Reference semantics mirrored here:
- foreach over array & object (execForeach runtime/ruleset.c:392-418;
  tests/json_array_looping.sh, json_object_looping.sh,
  json_nonarray_looping.sh)
- call_indirect (execCallIndirect ruleset.c:241-281): computed name,
  unknown name = NOP
- queued call (execCall MsgDup branch ruleset.c:283-302;
  tests/omruleset-queue.sh): target sees a copy; its set/stop don't
  affect the caller
- config expression grammar parity (grammar.y:120-124 precedence,
  rainerscript.c:3730-3763 function registry)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rsyslog_spark.config import compile_config
from rsyslog_spark.route import (
    _WRITES,
    Action,
    AddHmac,
    Audit,
    Call,
    CallIndirect,
    DbLookup,
    External,
    Foreach,
    Grok,
    Normalize,
    RouteCompiler,
    Ruleset,
    Set,
    SnmpTrapd,
    Stop,
    TagHostname,
    Unset,
)

# one instance of every rewriting statement but Set/Unset (the foreach
# check rejects them before any body runs, so dummy arguments do)
_REWRITERS = [
    Normalize(rules=[]), Audit(), Grok("%{WORD:w}"), TagHostname("t"),
    SnmpTrapd(), External("/bin/true"), AddHmac("k", "sha256", "id"),
    DbLookup("$!ip", "/x.mmdb", ["city"]),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            (1, '{"a":"1","b":"x"}', "high", 2),
            (2, '["p","q","r"]', "low", 5),
            (3, "notjson", "nowhere", 7),
            (4, '[{"baz":"im"},{"baz":"om"}]', "low", 1),
        ],
        "i int, payload string, cls string, sev int",
    )


def _rows(action, ann):
    out = action.output(ann)
    cols = ["i"] + ([action.out_col] if action.out_col else [])
    return sorted(tuple(r[c] for c in cols) for r in out.select(*cols).collect())


class TestForeach:
    def test_array_and_object_auto(self, df):
        rc = RouteCompiler().add(Ruleset("fe", [
            Foreach("$.e", F.col("payload"), mode="auto", body=[
                Action("pairs", F.concat(
                    F.coalesce(F.element_at(F.col("vars"), ".e!key"), F.lit("")),
                    F.lit("="),
                    F.element_at(F.col("vars"), ".e!value"),
                )),
            ]),
        ]))
        ann, actions = rc.compile(df, "fe")
        rows = _rows(actions[0], ann)
        # object -> {key,value} pairs (callForeachObject), array -> one
        # row per element; non-JSON rows iterate zero times
        # (json_nonarray_looping.sh), array-of-objects elements are the
        # nested JSON text (json_array_looping.sh 'quux: { "bar": ... }')
        assert rows == [
            (1, "a=1"), (1, "b=x"),
            (2, "=p"), (2, "=q"), (2, "=r"),
            (4, '={"baz":"im"}'), (4, '={"baz":"om"}'),
        ]

    def test_nested_foreach_through_binding(self, df):
        # foreach over an object, then foreach over each value that is
        # itself an array (the json_array_looping.sh nesting pattern)
        nested = df.sparkSession.createDataFrame(
            [(1, '{"foo":["u","v"],"bar":["w"]}')], "i int, payload string"
        )
        rc = RouteCompiler().add(Ruleset("fe", [
            Foreach("$.q", F.col("payload"), mode="auto", body=[
                Foreach("$.c", F.element_at(F.col("vars"), ".q!value"),
                        mode="auto", body=[
                    Action("inner", F.concat(
                        F.element_at(F.col("vars"), ".q!key"),
                        F.lit(":"),
                        F.element_at(F.col("vars"), ".c!value"),
                    )),
                ]),
            ]),
        ]))
        ann, actions = rc.compile(nested, "fe")
        rows = _rows(actions[0], ann)
        assert rows == [(1, "bar:w"), (1, "foo:u"), (1, "foo:v")]

    def test_config_text_foreach(self, df):
        conf = """
        template(name="kv" type="string" string="%$.e!key%=%$.e!value%")
        ruleset(name="fe") {
            foreach ($.e in $!doc) do {
                action(type="omfile" file="/x/pairs.log" template="kv")
            }
        }
        """
        src = df.withColumn(
            "vars",
            F.create_map(F.lit("doc"), F.col("payload")),
        )
        ann, actions = compile_config(src, conf, entry="fe")
        rows = _rows(actions[0], ann)
        assert (1, "a=1") in rows and (2, "=p") in rows
        assert all(r[0] != 3 for r in rows)

    def test_rewriters_cover_writes(self):
        assert {type(st) for st in _REWRITERS} == set(_WRITES) - {Set, Unset}

    @pytest.mark.parametrize(
        "stmt", _REWRITERS, ids=lambda st: type(st).__name__
    )
    def test_rewriter_rejected_in_body(self, df, stmt):
        rc = RouteCompiler().add(Ruleset("fe", [
            Foreach("$.e", F.col("payload"), body=[stmt, Action("x")]),
        ]))
        with pytest.raises(ValueError, match="inside a foreach body"):
            rc.compile(df, "fe")


class TestCallForms:
    def test_call_indirect_with_nop(self, df):
        rc = RouteCompiler()
        rc.add(Ruleset("high", [Action("hi"), Stop()]))
        rc.add(Ruleset("low", [Action("lo")]))
        rc.add(Ruleset("main", [
            CallIndirect(F.col("cls")),
            Action("after"),
        ]))
        ann, actions = rc.compile(df, "main")
        by = {a.sink: a for a in actions}
        assert _rows(by["hi"], ann) == [(1,)]
        assert _rows(by["lo"], ann) == [(2,), (4,)]
        # 'nowhere' is a NOP (ruleset.c:258-262); stop in 'high'
        # propagates (inline direct-call semantics)
        assert _rows(by["after"], ann) == [(2,), (3,), (4,)]

    def test_queued_call_isolation(self, df):
        rc = RouteCompiler()
        rc.queued = {"audit"}
        rc.add(Ruleset("audit", [
            Set("$!t", F.lit("Q"), force_reset=True),
            Action("aud", F.element_at(F.col("vars"), "t")),
            Stop(),
        ]))
        rc.add(Ruleset("main", [
            Set("$!t", F.lit("pre"), force_reset=True),
            Call("audit", queued=True),
            Action("after", F.element_at(F.col("vars"), "t")),
        ]))
        ann, actions = rc.compile(df, "main")
        by = {a.sink: a for a in actions}
        # queued target saw its own set
        assert all(r[1] == "Q" for r in _rows(by["aud"], ann))
        # caller unaffected by target's set AND stop (MsgDup copy)
        after = _rows(by["after"], ann)
        assert len(after) == 4 and all(r[1] == "pre" for r in after)

    def test_plain_call_to_queued_ruleset(self, df):
        """The target's queue decides: a plain Call into a ruleset
        listed in ``queued`` runs on a copy of the message."""
        rc = RouteCompiler()
        rc.queued = {"audit"}
        rc.add(Ruleset("audit", [Unset("$!t"), Stop()]))
        rc.add(Ruleset("main", [
            Set("$!t", F.lit("pre"), force_reset=True),
            Call("audit"),
            Action("after", F.element_at(F.col("vars"), "t")),
        ]))
        ann, actions = rc.compile(df, "main")
        assert _rows(actions[0], ann) == [(i, "pre") for i in (1, 2, 3, 4)]

    def test_config_text_queued_and_indirect(self, df):
        conf = """
        ruleset(name="sev0" queue.type="linkedlist") {
            set $!t = "queued";
            action(type="omfile" file="/x/hi.log")
            stop
        }
        ruleset(name="route") {
            set $!t = "pre";
            call_indirect "sev" & cstr($syslogseverity / 4);
            action(type="omfile" file="/x/rest.log")
        }
        """
        src = df.withColumn("syslogseverity", F.col("sev")).withColumn(
            "syslogfacility", F.lit(1)
        )
        ann, actions = compile_config(src, conf, entry="route")
        by = {a.sink: a for a in actions}
        # sev/4 == 0 -> 'sev0' (rows 1,4); 'sev1' undefined -> NOP
        assert _rows(by["hi"], ann) == [(1,), (4,)]
        # queued: stop did not stop the caller; set didn't leak
        assert _rows(by["rest"], ann) == [(1,), (2,), (3,), (4,)]
        t = ann.select(F.element_at("vars", "t").alias("t")).distinct().collect()
        assert {r["t"] for r in t} == {"pre"}


class TestConfigExpressions:
    def test_arithmetic_precedence_and_div0(self, df):
        conf = """
        ruleset(name="c") {
            set $.a = 2 + 3 * 4;
            set $.b = (2 + 3) * 4;
            set $.c = 7 / 0;
            set $.d = 7 % 0;
            set $.e = -$syslogseverity + 10;
            set $.f = 10 - 2 - 3;
        }
        """
        src = df.withColumn("syslogseverity", F.col("sev"))
        ann, _ = compile_config(src, conf, entry="c")
        r = ann.filter(F.col("i") == 1).select("vars").first()["vars"]
        assert r[".a"] == "14" and r[".b"] == "20"
        assert r[".c"] == "0" and r[".d"] == "0"  # div-0 -> 0
        assert r[".e"] == "8" and r[".f"] == "5"  # left-assoc

    def test_functions_in_config(self, df):
        from rsyslog_spark.lookup import LookupTable

        lt = LookupTable("cls", "string", {"high": "H", "low": "L"},
                         nomatch="?")
        conf = """
        ruleset(name="c") {
            set $.len = strlen($cls);
            set $.fld = field($payload, 44, 2);
            set $.hex = int2hex(255);
            set $.lk = lookup("cls", $cls);
            set $.w = wrap(tolower("ABC"), "\\"");
            set $.sub = substring($cls, 0, 2);
        }
        """
        ann, _ = compile_config(df, conf, entry="c",
                                lookups={"cls": lt})
        r = ann.filter(F.col("i") == 2).select("vars").first()["vars"]
        assert r[".len"] == "3"
        assert r[".fld"] == '"q"'  # ["p","q","r"] split on ',' field 2
        assert r[".hex"] == "ff"
        assert r[".lk"] == "L"
        assert r[".w"] == '"abc"'
        assert r[".sub"] == "lo"

    def test_script_error_and_parse_json(self, df):
        conf = """
        ruleset(name="c") {
            set $.ok = parse_json($payload, "$!doc");
            set $.e1 = script_error();
            set $.a = get_property($!doc, "a");
            set $.e2 = script_error();
            set $.pt = parse_time($payload);
            set $.e3 = script_error();
        }
        """
        ann, _ = compile_config(df, conf, entry="c")
        rows = {
            r["i"]: r["vars"]
            for r in ann.select("i", "vars").collect()
        }
        # row 1: object parses, key a present
        assert rows[1][".e1"] == "0" and rows[1][".a"] == "1"
        assert rows[1][".e2"] == "0"
        # row 3: not JSON -> parse_json EINVAL; get_property misses
        assert rows[3][".e1"] == "1" and rows[3][".a"] == ""
        assert rows[3][".e2"] == "1"
        # parse_time on non-time strings: 0 + EINVAL for everyone
        assert all(v[".pt"] == "0" and v[".e3"] == "1" for v in rows.values())

    def test_not_binds_tightest(self, df):
        # grammar.y %nonassoc NOT at the TOP precedence level:
        # `not 0 == 1` is (not 0) == 1 -> 1 == 1 -> true
        conf = 'ruleset(name="c") { if not 0 == 1 then { action(type="omfile" file="/x/t.log") } }'
        ann, actions = compile_config(df, conf, entry="c")
        assert len(_rows(actions[0], ann)) == 4


class TestSubtreeTemplate:
    def test_subtree_render(self, df):
        from rsyslog_spark.config import compile_config

        conf = """
        template(name="sub" type="subtree" subtree="$!doc")
        ruleset(name="r") {
            if parse_json($payload, "$!doc") == 0 then {
                action(type="omfile" file="/x/out.log" template="sub")
            }
        }
        """
        ann, actions = compile_config(df, conf, entry="r")
        a = actions[0]
        rows = {r["i"]: r[a.out_col]
                for r in a.output(ann).select("i", a.out_col).collect()}
        # stored-JSON container renders verbatim
        assert rows[1] == '{"a":"1","b":"x"}'

    def test_subtree_flat_keys(self, spark):
        from pyspark.sql import functions as F

        from rsyslog_spark.templates import subtree_template

        d = spark.createDataFrame([(1,)], "i int").withColumn(
            "vars",
            F.create_map(
                F.lit("x!k"), F.lit("v"),
            ),
        )
        out = d.select(subtree_template("$!x").alias("s")).first()["s"]
        assert out == '{"k":"v"}'


class TestBooleanRendering:
    def test_booleans_are_numbers(self, df):
        # rsyslog has NO boolean type: comparisons yield number 0/1
        # (cnfexprEval 'N'), so string context must render '1'/'0' —
        # never Spark's 'true'/'false'
        conf = """
        ruleset(name="c") {
            set $.a = (1 == 1) & "-" & (1 == 2);
            set $.b = cstr(2 > 1);
            set $.c = (1 == 1) + 5;
            set $.d = re_match("abc", "b.") & "";
        }
        """
        ann, _ = compile_config(df, conf, entry="c")
        r = ann.filter(F.col("i") == 1).select("vars").first()["vars"]
        assert r[".a"] == "1-0"
        assert r[".b"] == "1"
        assert r[".c"] == "6"
        assert r[".d"] == "1"  # POSIX search: 'b.' matches 'bc' in 'abc'


class TestAdviceR02Fixes:
    def test_foreach_keeps_prefix_sharing_vars(self, spark):
        # loop var '$.e' must not shadow/delete the unrelated caller var
        # 'env' (shares the bare prefix 'e') — execForeach overwrites
        # only the iterator variable itself (ruleset.c:400-413)
        d = spark.createDataFrame(
            [(1, '["a","b"]')], "i int, payload string"
        ).withColumn(
            "vars", F.create_map(F.lit("env"), F.lit("prod"))
        )
        rc = RouteCompiler().add(Ruleset("fe", [
            Foreach("$.e", F.col("payload"), mode="auto", body=[
                Action("out", F.concat(
                    F.coalesce(F.element_at(F.col("vars"), "env"),
                               F.lit("<null>")),
                    F.lit(":"),
                    F.element_at(F.col("vars"), ".e!value"),
                )),
            ]),
        ]))
        ann, actions = rc.compile(d, "fe")
        a = actions[0]
        rows = sorted(
            r[a.out_col]
            for r in a.output(ann).select(a.out_col).collect()
        )
        assert rows == ["prod:a", "prod:b"]

    def test_foreach_rejects_nonloop_set_and_stop(self, spark):
        d = spark.createDataFrame([(1, '["a"]')], "i int, payload string")
        rc = RouteCompiler().add(Ruleset("bad_set", [
            Foreach("$.e", F.col("payload"), mode="auto", body=[
                Set("$.other", F.lit("x")),
            ]),
        ])).add(Ruleset("bad_stop", [
            Foreach("$.e", F.col("payload"), mode="auto", body=[
                Stop(),
            ]),
        ])).add(Ruleset("ok_nested", [
            Foreach("$.q", F.col("payload"), mode="auto", body=[
                Foreach("$.c", F.element_at(F.col("vars"), ".q!value"),
                        mode="auto", body=[
                    Set("$.c", F.lit("x")),  # inner loop var: allowed
                ]),
            ]),
        ]))
        with pytest.raises(ValueError, match="foreach body sets"):
            rc.compile(d, "bad_set")
        with pytest.raises(ValueError, match="stop.*foreach"):
            rc.compile(d, "bad_stop")
        rc.compile(d.withColumn("vars", F.create_map().cast(
            "map<string,string>")), "ok_nested")  # must not raise

    def test_script_error_gated_by_branch(self, df):
        # a fallible call inside a branch must update script_error()
        # only for rows that took the branch (wtiSetScriptErrno is
        # runtime-sequential) — rows on the other path keep their errno
        conf = """
        ruleset(name="c") {
            set $.t0 = parse_time("2011-03-01T11:22:12Z");
            set $.e0 = script_error();
            if $cls == "high" then {
                set $.pt = parse_time("not a time");
            } else {
                set $.x = "1";
            }
            set $.e1 = script_error();
        }
        """
        ann, _ = compile_config(df, conf, entry="c")
        rows = {r["i"]: r["vars"] for r in ann.select("i", "vars").collect()}
        # everyone starts clean
        assert all(v[".e0"] == "0" for v in rows.values())
        # row 1 (cls=high): branch taken -> parse_time EINVAL
        assert rows[1][".e1"] == "1"
        # rows on the else path keep errno 0
        assert rows[2][".e1"] == "0"
        assert rows[3][".e1"] == "0"
        assert rows[4][".e1"] == "0"

    def test_string_true_is_not_numeric(self, spark):
        # reference var2Number('true') == 0: '$!x + 1' is 1, and
        # '$!x < 5' compares as STRINGS ('true' < '5' is false);
        # $parsesuccess still coerces 1/0 (cast at the property boundary)
        d = spark.createDataFrame([(1,)], "i int").withColumn(
            "vars", F.create_map(F.lit("x"), F.lit("true"))
        ).withColumn("parse_success", F.lit(True))
        conf = """
        ruleset(name="c") {
            set $.plus = $!x + 1;
            set $.cmp = ($!x < 5) & "";
            set $.ps = $parsesuccess + 1;
        }
        """
        ann, _ = compile_config(d, conf, entry="c")
        r = ann.select("vars").first()["vars"]
        assert r[".plus"] == "1"
        assert r[".cmp"] == "0"
        assert r[".ps"] == "2"


class TestLocalVarNamespace:
    """r5: $. locals are a DISTINCT namespace from the $! message tree
    ('.'-prefixed keys), matching the reference's separate json/
    localvars trees (runtime/msg.c:681-684). Before r5 both spellings
    aliased to one key — the r4 verdict's silent-wrong-answer class."""

    def test_same_name_different_trees(self, spark):
        d = spark.createDataFrame([(1,)], "i int")
        conf = """
        template(name="t" type="string" string="%$!x%|%$.x%")
        ruleset(name="c") {
            set $!x = "msgtree";
            set $.x = "local";
            action(type="omfile" file="/x/out.log" template="t")
        }
        """
        ann, actions = compile_config(d, conf, entry="c")
        a = actions[0]
        assert a.output(ann).first()[a.out_col] == "msgtree|local"

    def test_routing_on_distinct_vars(self, spark):
        d = spark.createDataFrame([(1,), (2,)], "i int")
        conf = """
        ruleset(name="c") {
            set $!flag = "yes";
            if $i == 1 then { set $.flag = "yes"; }
            if $.flag == "yes" then {
                action(type="omfile" file="/x/local.log")
            }
            if $!flag == "yes" then {
                action(type="omfile" file="/x/tree.log")
            }
        }
        """
        ann, actions = compile_config(d, conf, entry="c")
        by = {a.sink: a for a in actions}
        assert sorted(
            r["i"] for r in by["local"].output(ann).collect()
        ) == [1]
        assert sorted(
            r["i"] for r in by["tree"].output(ann).collect()
        ) == [1, 2]

    def test_bare_roots_exclude_each_other(self, spark):
        d = spark.createDataFrame([(1,)], "i int")
        conf = """
        template(name="tmsg" type="string" string="%$!%")
        template(name="tloc" type="string" string="%$.%")
        ruleset(name="c") {
            set $!a = "A";
            set $.b = "B";
            action(type="omfile" file="/x/m.log" template="tmsg")
            action(type="omfile" file="/x/l.log" template="tloc")
        }
        """
        ann, actions = compile_config(d, conf, entry="c")
        by = {a.sink: a for a in actions}
        assert by["m"].output(ann).first()[by["m"].out_col] == \
            '{ "a": "A" }'
        assert by["l"].output(ann).first()[by["l"].out_col] == \
            '{ "b": "B" }'

    def test_unset_is_tree_scoped(self, spark):
        d = spark.createDataFrame([(1,)], "i int")
        conf = """
        template(name="t" type="string" string="%$!x%|%$.x%")
        ruleset(name="c") {
            set $!x = "keep";
            set $.x = "gone";
            unset $.x;
            action(type="omfile" file="/x/out.log" template="t")
        }
        """
        ann, actions = compile_config(d, conf, entry="c")
        a = actions[0]
        assert a.output(ann).first()[a.out_col] == "keep|"

    def test_parse_json_into_local_container(self, spark):
        d = spark.createDataFrame([(1, '{"k":"v"}')], "i int, payload string")
        conf = """
        ruleset(name="c") {
            set $.ok = parse_json($payload, "$.doc");
            set $.got = get_property($.doc, "k");
        }
        """
        ann, _ = compile_config(d, conf, entry="c")
        r = ann.select("vars").first()["vars"]
        assert r[".got"] == "v"
        assert ".doc" in r and "doc" not in r

    def test_subtree_template_local_root(self, spark):
        from rsyslog_spark.templates import subtree_template

        d = spark.createDataFrame([(1,)], "i int").withColumn(
            "vars",
            F.create_map(
                F.lit(".x"), F.lit("L"),
                F.lit("m"), F.lit("M"),
            ),
        )
        out = d.select(
            subtree_template("$.").alias("loc"),
            subtree_template("$!").alias("msg"),
        ).first()
        assert out["loc"] == '{"x":"L"}'
        assert out["msg"] == '{"m":"M"}'
