"""Config-as-query frontend: rsyslog.conf (RainerScript subset) -> compiled
pipeline.

The reference's "query language" IS its config (SURVEY §3.1: lex/parse
grammar/lexer.l + grammar/grammar.y -> cnfstmt AST -> optimize ->
activate). This module is the same lifecycle for the Spark engine: text
-> statement AST (rsyslog_spark.route dataclasses) -> RouteCompiler ->
per-sink predicates. A user can bring an rsyslog.conf written in the
supported subset and run it unchanged.

Supported subset (each maps to grammar.y constructs):
- template(name="T" type="string" string="...")      grammar.y obj / template.c
- $template T,"..."                                  legacy directive
- ruleset(name="r" [queue.type="..."]) { ... }       grammar.y:150; a
  queue.* parameter marks the ruleset QUEUED: `call` targets with a
  queue get copy semantics (execCall MsgDup branch, ruleset.c:283-302)
- if EXPR then { ... } [else { ... }]                grammar.y:183-228
- foreach ($.x in EXPR) do { ... }                   S_FOREACH grammar.y:174
- EXPR: full expression grammar with the REFERENCE precedence table
  (grammar.y:120-124: and/or < comparisons < + - & < * / % < unary -/not):
  $prop / $!var refs, string/number literals, arithmetic with
  division-by-zero -> 0 (COMP_NUM_BINOP_DIV rainerscript.c:2996-3005),
  == != <> < <= > >= contains contains_i startswith startswith_i,
  and/or/not, parens, `&` concat, array membership, and the FUNCTION
  REGISTRY (rainerscript.c:3730-3763) — see _FUNNAMES below
- action(type="omfile" file|dynaFile="..." [template="T"])   tools/omfile.c
- action(type="omdiscard")  -> stop                  rainerscript.c:5088
- set/reset $!k = EXPR; unset $!k;                   ruleset.c:220-239
  (reset = force overwrite, grammar.y RESET -> force_reset=1)
- call rulesetname; call_indirect EXPR;              ruleset.c:241-302
- stop / ~                                           ruleset.c:595
- lookup_table(name="t" file="x.json")               lookup.c table defs
- legacy selector lines: 'PRIFILT  /path' and ':prop, op, "v"  /path'
                                                     conf.c:350-478
- module(...) / input(...) parsed and recorded (inputs are tables here)

script_error() support: the parser threads a per-row error column
through the statement walk — each fallible call (parse_time, is_time,
get_property, parse_json) replaces it (wtiSetScriptErrno semantics,
rainerscript.c:2647,2693,2748,1942); script_error() returns the state
as of its position (sequential-exec faithful because the parse IS
sequential).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from rsyslog_spark.coerce import rs_div, rs_is_number, rs_mod, rs_to_number, rs_to_string
from rsyslog_spark.filters import prifilt_predicate, propfilt_predicate
from rsyslog_spark.route import (
    Action,
    AddHmac,
    Audit,
    Call,
    CallIndirect,
    DbLookup,
    External,
    Foreach,
    Grok,
    If,
    Normalize,
    RouteCompiler,
    Ruleset,
    Set,
    SnmpTrapd,
    Stop,
    TagHostname,
    Unset,
)
from rsyslog_spark.templates import (
    BUILTIN_TEMPLATES,
    compile_template,
    resolve_property,
)
from rsyslog_spark.templates import var_key as tpl_var_key


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<number>\d+)
  | (?P<prop>\$[!./]?[A-Za-z0-9_!\.\-]+|\$!|\$\.)
  | (?P<name>[A-Za-z_][A-Za-z0-9_\-\.]*)
  | (?P<op><>|==|!=|<=|>=|<|>|=|\{|\}|\(|\)|\[|\]|,|;|~|&|\+|-|\*|/|%)
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"config syntax error at: {text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append((kind, m.group()))
    return out


def _unquote(s: str) -> str:
    body = s[1:-1]
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            out.append({"n": "\n", "r": "\r", "t": "\t"}.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


@dataclass
class ParsedConfig:
    templates: dict[str, str] = field(default_factory=dict)
    rulesets: dict[str, Ruleset] = field(default_factory=dict)
    sink_templates: dict[str, str] = field(default_factory=dict)
    modules: list[dict] = field(default_factory=list)
    inputs: list[dict] = field(default_factory=list)
    lookups: dict = field(default_factory=dict)  # name -> LookupTable
    parsers: dict = field(default_factory=dict)  # name -> parser() params
    queued: set = field(default_factory=set)  # rulesets with own queue
    main: list = field(default_factory=list)  # statements outside rulesets
    # global(...)/main_queue(...) parameter objects, recorded as
    # (kind, params) in file order
    globals: list = field(default_factory=list)
    # sinks marked down at config time (health probe / operator flag);
    # drives action suspension + previous_action_suspended()
    suspended: set = field(default_factory=set)
    # pending legacy $mmsnmptrapdTag / $mmsnmptrapdSeverityMapping
    # values (mmsnmptrapd.c:429-432 cfsysline handlers; auto-reset when
    # an instance consumes them, :360-363)
    snmptrapd_cs: dict = field(default_factory=dict)
    # pending $ActionOmrulesetRulesetName (omruleset.c:144-163;
    # auto-reset when a ':omruleset:' instance consumes it)
    omruleset_name: str | None = None
    # omprog program-sink specs: sink name -> external.om_prog kwargs
    # (the physical pump; Action routing/filtering is shared with
    # omfile — run a sink with external.om_prog(a.output(ann),
    # a.out_col, **cfg.prog_sinks[name]))
    prog_sinks: dict = field(default_factory=dict)

    def compiler(self) -> RouteCompiler:
        # global(localhostname=...) feeds mmtaghostname's forced
        # hostname (tests/mmtaghostname_server.sh); deterministic
        # "localhost" default
        lh = "localhost"
        for kind, params in self.globals:
            if kind == "global" and "localhostname" in params:
                lh = params["localhostname"]
        rc = RouteCompiler(
            suspended_sinks=self.suspended, localhostname=lh
        )
        for rs in self.rulesets.values():
            rc.add(rs)
        if self.main:
            rc.add(Ruleset("main", self.main))
        # `call X` where X has a queue = queued call, decided by the
        # compiler (the ruleset may be declared after the call)
        rc.queued = set(self.queued)
        return rc


# functions callable in config expressions (registry parity:
# rainerscript.c:3730-3763). Stateful/environment entries intentionally
# excluded: dyn_inc (aggregation-side analog rsyslog_spark.agg.dyn_inc),
# random (nondeterminism breaks golden tests — reference testbench
# avoids it too).
_FUNNAMES = {
    "strlen", "getenv", "num2ipv4", "int2hex", "substring", "ltrim",
    "rtrim", "tolower", "cstr", "cnum", "ip42num", "ipv42num",
    "re_match", "re_match_i", "re_extract", "re_extract_i", "field",
    "exec_template", "prifilt", "lookup", "replace", "wrap",
    "format_time", "parse_time", "is_time", "parse_json",
    "get_property", "script_error", "exists",
    "previous_action_suspended",
    # fmhash + fmunflatten function modules (contrib/)
    "hash32", "hash32mod", "hash64", "hash64mod", "unflatten",
}


class _Parser:
    def __init__(self, tokens, cfg: ParsedConfig):
        self.t = tokens
        self.i = 0
        self.cfg = cfg
        # script_error() channel (wtiGetScriptErrno analog): per-row
        # error state as of the current parse position
        self._script_err: Column = F.lit(0)
        # enclosing if/else path predicates: a fallible call inside a
        # branch only updates the error channel for rows that actually
        # take that branch (runtime-sequential wtiSetScriptErrno —
        # ADVICE r02 fix; foreach bodies remain straight-line-only and
        # are documented as such)
        self._path_stack: list[Column] = []
        # previous_action_suspended() channel (rainerscript.c:2803):
        # per-ACTION suspension state threaded in textual order, exactly
        # the rule RouteCompiler applies at compile (suspension is
        # action-global in the reference, not per message)
        self._prev_act_susp = False
        # side-effect statements produced while parsing an expression
        # (parse_json writes its container var): flushed into the
        # statement list JUST BEFORE the statement whose expression
        # produced them — the reference evaluates them during condition
        # evaluation, i.e. unconditionally at that point
        self._pre_stmts: list = []

    # -- token helpers ---------------------------------------------------
    def peek(self, k=0):
        return self.t[self.i + k] if self.i + k < len(self.t) else (None, None)

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok

    def expect(self, val):
        kind, v = self.next()
        if v != val:
            raise ValueError(f"expected {val!r}, got {v!r}")
        return v

    # -- top level -------------------------------------------------------
    def parse(self):
        while self.peek()[0] is not None:
            self.cfg_statement(self.cfg.main)
        return self.cfg

    def params(self) -> dict[str, str]:
        """(k="v" k2="v2") parameter list."""
        self.expect("(")
        out = {}
        while self.peek()[1] != ")":
            _, k = self.next()
            self.expect("=")
            if self.peek()[1] == "[":
                # array attribute, e.g. ruleset(parser=["a","b"])
                self.next()
                arr = []
                while True:
                    kind, v = self.next()
                    if v == "]":
                        break
                    if v == ",":
                        continue
                    arr.append(_unquote(v) if kind == "string" else v)
                out[k.lower()] = arr
            else:
                kind, v = self.next()
                out[k.lower()] = _unquote(v) if kind == "string" else v
        self.expect(")")
        return out

    def block(self, into: list):
        self.expect("{")
        while self.peek()[1] != "}":
            self.cfg_statement(into)
        self.expect("}")

    def _flush_pre(self, into: list):
        into.extend(self._pre_stmts)
        self._pre_stmts = []

    def cfg_statement(self, into: list):
        kind, v = self.peek()
        if v == ";":
            self.next()
            return
        if kind == "name":
            lword = v.lower()
            if lword == "template":
                self.next()
                p = self.params()
                ttype = p.get("type", "string")
                if ttype == "subtree":
                    # template(type="subtree" subtree="$!x") renders the
                    # JSON subtree (template.c subtree templates)
                    self.cfg.templates[p["name"]] = (
                        "__subtree__" + p.get("subtree", "$!")
                    )
                    return
                # template-level escaping options (template.c optTyp:
                # option.json/sql/stdsql apply to EVERY property)
                tpl_opts = [
                    o for o in ("json", "sql", "stdsql", "jsonf")
                    if str(p.get(f"option.{o}", "off")).lower()
                    in ("on", "1")
                ]
                unknown_opts = [
                    k for k in p
                    if k.startswith("option.")
                    and k not in ("option.json", "option.sql",
                                  "option.stdsql", "option.jsonf")
                ]
                if unknown_opts:
                    raise ValueError(
                        f"unsupported template option param(s) "
                        f"{unknown_opts} (supported: option.json/"
                        "sql/stdsql/jsonf)"
                    )
                if "jsonf" in tpl_opts and ttype != "list":
                    raise ValueError(
                        'option.jsonf="on" is only modeled for '
                        "list templates (name:value framing needs "
                        "per-part outnames)"
                    )
                if ttype == "list":
                    # template(type="list") { constant(...) property(...) }
                    # (template.c:1380-1700) -> ListTemplate parts
                    from rsyslog_spark.templates import ListTemplate

                    parts: list = []
                    self.expect("{")
                    while self.peek()[1] != "}":
                        _, word = self.next()
                        lw = word.lower()
                        bp = self.params()
                        if lw == "constant":
                            val = bp["value"]
                            if str(bp.get("format", "")).lower() in (
                                "jsonf", "jsonfr"
                            ):
                                # constant jsonf pre-renders the json-c
                                # pair form '"outname": "value"' — WITH
                                # a space, unlike field jsonf
                                # (template.c:1388-1400; golden
                                # tests/template-const-jsonf.sh)
                                nm = str(bp.get("outname", "constant"))
                                esc = (
                                    val.replace("\\", "\\\\")
                                    .replace('"', '\\"')
                                )
                                val = f'"{nm}": "{esc}"'
                            parts.append(("c", val))
                        elif lw == "property":
                            parts.append(("p", bp))
                        else:
                            raise ValueError(
                                f"unsupported list-template element "
                                f"{word!r} (constant/property)"
                            )
                        if self.peek()[1] == ";":
                            self.next()
                    self.expect("}")
                    self.cfg.templates[p["name"]] = ListTemplate(
                        parts, tpl_opts
                    )
                    return
                if ttype != "string":
                    raise ValueError(
                        "only type=string/subtree/list templates "
                        "supported"
                    )
                text = p["string"]
                if tpl_opts:
                    # text form: fold the template-level option into
                    # every %...% field's option list (what
                    # tplConstructFromStruct's optTyp does per entry)
                    addon = ",".join(tpl_opts)

                    def _addopt(m):
                        body = m.group(1)
                        if not body:
                            return m.group(0)
                        n = body.count(":")
                        if n < 3:
                            body += ":" * (3 - n) + addon
                        else:
                            body += "," + addon
                        return "%" + body + "%"

                    text = re.sub(r"%([^%]*)%", _addopt, text)
                self.cfg.templates[p["name"]] = text
                return
            if lword == "ruleset":
                self.next()
                p = self.params()
                body: list = []
                self.block(body)
                plist = p.get("parser", [])
                if isinstance(plist, str):
                    plist = [plist]
                self.cfg.rulesets[p["name"]] = Ruleset(
                    p["name"], body, parsers=plist
                )
                if any(k.startswith("queue.") for k in p):
                    self.cfg.queued.add(p["name"])
                return
            if lword == "parser":
                # parser(name="x" type="pmnull" ...) instance object
                # (grammar.y parser obj; instances bind via
                # ruleset(parser=[...]), ruleset.c parser chain)
                self.next()
                p = self.params()
                self.cfg.parsers[p["name"]] = p
                return
            if lword == "lookup_table":
                # lookup_table(name="t" file="x.json") — table object
                # (lookup.c JSON format, loaded once at config time like
                # lookupReload)
                self.next()
                p = self.params()
                from rsyslog_spark.lookup import LookupTable

                self.cfg.lookups[p["name"]] = LookupTable.from_json_file(
                    p["name"], p["file"]
                )
                return
            if lword == "module":
                self.next()
                self.cfg.modules.append(self.params())
                return
            if lword == "include":
                # include(file=... | text=... [mode=...]) — token-level
                # splice (includeProcessCnf, rainerscript.c:5476-5550;
                # file resolution cnfDoInclude :5393-5470). Included
                # text goes through the same legacy pre-pass.
                self.next()
                p = self.params()
                inc_file, inc_text = p.get("file"), p.get("text")
                if inc_file is not None and inc_text is not None:
                    raise ValueError(
                        "include() must have either 'file' or 'text' "
                        "parameter, but both are set"
                    )
                if inc_file is None and inc_text is None:
                    raise ValueError(
                        "include() must have either 'file' or 'text' "
                        "parameter"
                    )
                mode = p.get("mode", "abort-if-missing")
                if mode not in ("abort-if-missing", "required",
                                "optional"):
                    raise ValueError(f"invalid include mode {mode!r}")
                if inc_file is not None:
                    inc_text = _include_files(
                        inc_file, optional=(mode == "optional")
                    )
                toks = _tokenize(_strip_legacy(inc_text, self.cfg))
                self.t = self.t[:self.i] + toks + self.t[self.i:]
                return
            if lword in ("global", "main_queue"):
                # daemon-level parameter objects: recorded (work dirs,
                # net permits, queue sizing have no batch analog; the
                # one semantic global this engine honors is the session
                # UTC pin documented in SURVEY §1.3)
                self.next()
                self.cfg.globals.append((lword, self.params()))
                return
            if lword == "input":
                self.next()
                self.cfg.inputs.append(self.params())
                return
            if lword == "action":
                self.next()
                a = self.action(self.params())
                into.append(a)
                if isinstance(a, Action):
                    # previous_action_suspended() tracks the same
                    # textual-order attempt rule the compiler applies
                    attempts = (
                        not a.exec_when_prev_suspended
                        or self._prev_act_susp
                    )
                    if attempts:
                        self._prev_act_susp = a.sink in self.cfg.suspended
                return
            if lword == "if":
                self.next()
                cond, ck = self.expr_v()
                self._flush_pre(into)
                _, t = self.next()
                if t != "then":
                    raise ValueError(f"expected 'then', got {t!r}")
                then: list = []
                els: list = []
                # rsyslog truthiness gate for the script_error channel;
                # the condition itself evaluated UNGATED above (the
                # reference evaluates it at this point on every path)
                gate = cond if ck == "b" else (self._vnum(cond, ck) != 0)
                self._path_stack.append(gate)
                self.block(then)
                self._path_stack.pop()
                if self.peek()[1] == "else":
                    self.next()
                    self._path_stack.append(~gate)
                    self.block(els)
                    self._path_stack.pop()
                into.append(If(cond, then, els))
                return
            if lword == "foreach":
                # foreach ($.x in EXPR) do { ... }  (grammar.y:174,
                # iterator_decl; execForeach ruleset.c:392-418)
                self.next()
                self.expect("(")
                _, var = self.next()
                _, inkw = self.next()
                if inkw != "in":
                    raise ValueError(f"expected 'in', got {inkw!r}")
                coll = self.expr()
                self.expect(")")
                _, do = self.next()
                if do != "do":
                    raise ValueError(f"expected 'do', got {do!r}")
                self._flush_pre(into)
                body: list = []
                self.block(body)
                into.append(Foreach(var, coll, "auto", body))
                return
            if lword in ("set", "reset"):
                self.next()
                _, name = self.next()
                if name.startswith("$/"):
                    # $/ globals are read-only here (SURVEY §1.3:
                    # broadcast state supplied at config load via
                    # templates.set_global_vars; cross-message writes
                    # have no dataflow analog) — fail loudly
                    raise ValueError(
                        f"{lword} {name}: global variables ($/) are "
                        "read-only in this engine; supply values via "
                        "set_global_vars()"
                    )
                self.expect("=")
                val, vkind = self.expr_v()
                # expression side effects (parse_json container write,
                # unflatten's script_error snapshot) happen DURING
                # expression evaluation in the reference, i.e. BEFORE
                # the assignment lands — flush first so their exprs
                # see the pre-assignment bag
                self._flush_pre(into)
                into.append(
                    Set(name, self._vstr(val, vkind),
                        force_reset=(lword == "reset"))
                )
                if self.peek()[1] == ";":
                    self.next()
                return
            if lword == "unset":
                self.next()
                _, name = self.next()
                if name.startswith("$/"):
                    raise ValueError(
                        f"unset {name}: global variables ($/) are "
                        "read-only in this engine"
                    )
                into.append(Unset(name))
                if self.peek()[1] == ";":
                    self.next()
                return
            if lword == "call":
                self.next()
                _, name = self.next()
                into.append(Call(name))
                return
            if lword == "call_indirect":
                self.next()
                e, ekind = self.expr_v()
                self._flush_pre(into)
                into.append(CallIndirect(self._vstr(e, ekind)))
                if self.peek()[1] == ";":
                    self.next()
                return
            if lword == "stop":
                self.next()
                into.append(Stop())
                return
        if v == "~":
            self.next()
            into.append(Stop())
            return
        raise ValueError(f"unsupported config statement at {v!r}")

    def action(self, p: dict[str, str]) -> Action | Stop | Normalize:
        typ = p.get("type", "omfile")
        if typ == "omdiscard":
            # optimizer rewrite omdiscard -> STOP (rainerscript.c:5088)
            return Stop()
        if typ == "mmnormalize":
            return self._mmnormalize_action(p)
        if typ == "mmtaghostname":
            # contrib/mmtaghostname param block (:68-71): tag (string),
            # forcelocalhostname (binary)
            return TagHostname(
                tag=p.get("tag"),
                force_localhostname=p.get("forcelocalhostname", "off")
                == "on",
            )
        if typ == "mmaudit":
            # plugins/mmaudit: no instance parameters (instanceData is
            # a dummy, mmaudit.c:65-67)
            return Audit()
        if typ == "mmdblookup":
            # param block mmdblookup.c:97-103: key / mmdbfile / fields
            # all REQUIRED; reloadonhup accepted+ignored (the reader
            # loads at config time — a batch run has no HUP). The
            # container comes from module(load="mmdblookup"
            # container=...), default "!iplocation" (:46, :226-228).
            missing = [
                k for k in ("key", "mmdbfile", "fields") if k not in p
            ]
            if missing:
                raise ValueError(
                    f"mmdblookup: mandatory parameter(s) {missing} "
                    "not specified (mmdblookup.c:97-103)"
                )
            container = "!iplocation"
            for m in self.cfg.modules:
                if (
                    m.get("load", "").endswith("mmdblookup")
                    and "container" in m
                ):
                    container = m["container"]
            from rsyslog_spark.mods import _dblookup_fields

            _dblookup_fields(p["fields"], container)  # config-time
            return DbLookup(
                key=p["key"],
                mmdbfile=p["mmdbfile"],
                fields=p["fields"],
                container=container,
            )
        if typ == "mmexternal":
            # param block mmexternal.c:88-93: binary REQUIRED,
            # interface.input (msg/rawmsg/fulljson, :559-571), output,
            # forcesingleinstance (binary)
            if "binary" not in p:
                raise ValueError(
                    "mmexternal: mandatory parameter 'binary' not "
                    "specified (mmexternal.c:89 CNFPARAM_REQUIRED)"
                )
            ifin = p.get("interface.input", "msg")
            if ifin not in ("msg", "rawmsg", "fulljson"):
                raise ValueError(
                    "mmexternal: invalid interface.input parameter "
                    f"{ifin!r} (mmexternal.c:559-571)"
                )
            return External(
                binary=p["binary"],
                interface_input=ifin,
                output=p.get("output"),
                force_single_instance=p.get("forcesingleinstance", "off")
                == "on",
            )
        if typ == "mmsnmptrapd":
            # the module predates v6 param blocks — in the reference
            # its ONLY config interface is the legacy directives
            # $mmsnmptrapdTag / $mmsnmptrapdSeverityMapping consumed by
            # the next instance (mmsnmptrapd.c:319-365 parseSelectorAct
            # + :429-432). We honor those, and additionally accept
            # same-named modern params (this engine's config text is
            # modern-first) which take precedence.
            from rsyslog_spark.mods import (
                parse_snmptrapd_severity_mapping,
            )

            cs = self.cfg.snmptrapd_cs
            tag = p.get("tag", cs.get("tag", "snmptrapd"))
            mapping = p.get(
                "severitymapping", cs.get("severitymapping", "")
            )
            cs.clear()  # auto-reset (:360-363)
            return SnmpTrapd(
                tag=tag,
                severity_mapping=parse_snmptrapd_severity_mapping(
                    mapping
                ),
            )
        if typ == "mmgrok":
            # contrib/mmgrok param block (:64-69): patterndir, match,
            # source, target. ``source`` is parsed but then overwritten
            # with the MSG pointer in doAction (mmgrok.c:336-346) —
            # accepted and ignored for parity. target defaults to "!"
            # (the $! root, :175-177). A missing/uncompilable match is
            # surfaced HERE (the C fails grok_compile per message,
            # turning the action into a silent no-op — loud beats
            # silent).
            match = p.get("match")
            if match is None:
                raise ValueError(
                    "mmgrok: 'match' is required in this engine (the "
                    "reference's NULL match fails grok_compile on "
                    "every message, mmgrok.c:294-299)"
                )
            patterns = None
            if "patterndir" in p:
                from rsyslog_spark.mods import load_grok_patterns

                patterns = load_grok_patterns(p["patterndir"])
            from rsyslog_spark.mods import grok_compile

            grok_compile(match, patterns)  # config-time validation
            return Grok(
                match=match,
                target=p.get("target", "!"),
                patterns=patterns,
            )
        if typ == "mmrfc5424addhmac":
            # all three params are mandatory (eCmdHdlrString flag 1,
            # mmrfc5424addhmac.c:95-99)
            missing = [
                k for k in ("key", "hashfunction", "sd_id") if k not in p
            ]
            if missing:
                raise ValueError(
                    "mmrfc5424addhmac: mandatory parameter(s) "
                    f"{missing} not specified "
                    "(mmrfc5424addhmac.c:95-99 param block)"
                )
            import hashlib as _hashlib

            if not hasattr(_hashlib, p["hashfunction"].lower()):
                raise ValueError(
                    f"mmrfc5424addhmac: hash function "
                    f"{p['hashfunction']!r} unknown "
                    "(mmrfc5424addhmac.c:184-189)"
                )
            return AddHmac(
                key=p["key"],
                hashfunction=p["hashfunction"],
                sd_id=p["sd_id"],
            )
        if typ == "omprog":
            # plugins/omprog/omprog.c:126-144 param block. binary is
            # REQUIRED; template defaults to RSYSLOG_FileFormat
            # (:1168-1169, same default as omfile). Child-lifecycle
            # tuning params (confirmTimeout, closeTimeout,
            # killUnresponsive, signalOnClose, hup.signal,
            # fileCreateMode, reportFailures) are accepted and ignored
            # — the engine's fixed close handling (stdin-close, 5 s
            # wait, kill) covers their purpose; reply status lines are
            # always surfaced in the status column, which subsumes
            # reportFailures' logging.
            if "binary" not in p:
                raise ValueError(
                    "omprog: mandatory parameter 'binary' not "
                    "specified (omprog.c:127 CNFPARAM_REQUIRED)"
                )
            sink = p.get(
                "name",
                os.path.splitext(os.path.basename(
                    p["binary"].split()[0]
                ))[0],
            )
            self.cfg.prog_sinks[sink] = dict(
                binary=p["binary"],
                confirm_messages=p.get("confirmmessages", "off")
                == "on",
                use_transactions=p.get("usetransactions", "off")
                == "on",
                begin_mark=p.get(
                    "begintransactionmark", "BEGIN TRANSACTION"
                ),
                commit_mark=p.get(
                    "committransactionmark", "COMMIT TRANSACTION"
                ),
                resume_retry_count=int(
                    p.get("action.resumeretrycount", "0")
                ),
                output=p.get("output"),
                force_single_instance=p.get("forcesingleinstance", "off")
                == "on",
            )
            tpl = p.get("template", "RSYSLOG_FileFormat")
            return Action(sink, self._template(tpl, sink))
        if typ == "omstdout":
            # plugins/omstdout/omstdout.c:79-82 param block (template,
            # ensurelfending). A console write is a sink table named
            # 'stdout' in this engine (the line terminator is the file
            # sink's framing — ensurelfending accepted and subsumed);
            # default template RSYSLOG_FileFormat like the C's
            # newActInst fallback.
            tpl = p.get("template", "RSYSLOG_FileFormat")
            return Action("stdout", self._template(tpl, "stdout"))
        if typ != "omfile":
            raise ValueError(f"unsupported action type {typ!r}")
        path = p.get("file") or p.get("dynafile") or p.get("dynfile")
        if path is None:
            raise ValueError(
                "omfile action requires file= or dynaFile= (omfile.c "
                "mandatory params)"
            )
        sink = os.path.splitext(os.path.basename(path))[0]
        # action.execOnlyWhenPreviousIsSuspended (action.c:1812-1815)
        eowps = (
            p.get("action.execonlywhenpreviousissuspended", "off") == "on"
        )
        # action.errorfile (action.c:200): JSON capture of events a
        # failed/suspended action could not deliver
        errf = p.get("action.errorfile")
        errf = (
            os.path.splitext(os.path.basename(errf))[0] if errf else None
        )
        tpl = p.get("template")
        return Action(
            sink, self._template(tpl, sink) if tpl else None,
            exec_when_prev_suspended=eowps, errorfile=errf,
        )

    def _template(self, name: str, sink: str | None = None) -> Column:
        """The named template (config-declared or built-in) compiled to
        a Column; an action's ``sink`` records it in sink_templates."""
        text = self.cfg.templates.get(name, BUILTIN_TEMPLATES.get(name))
        if text is None:
            raise ValueError(f"unknown template {name!r}")
        if sink is not None:
            self.cfg.sink_templates[sink] = name
        return compile_template(text)

    def _mmnormalize_action(self, p: dict) -> Normalize:
        """action(type="mmnormalize" ...) -> Normalize statement.

        Param block per plugins/mmnormalize/mmnormalize.c:94-99
        (rulebase / rule / path / userawmsg / variable) with the
        newActInst validation walk (mmnormalize.c:348-423):

        - exactly one of rule=/rulebase= (both -> "only one rulebase
          possible", neither -> "rulebase needed");
        - rule= is an ARRAY of rulebase lines joined with newlines
          (the strcat loop, mmnormalize.c:354-372);
        - rulebase= names a FILE, loaded at config time (ln_loadSamples
          at activation, buildInstance);
        - path= must be >= 2 chars and start with '$' — an invalid
          path keeps the DEFAULT "$!" (the reference only LogErrors and
          continues, mmnormalize.c:378-392);
        - variable= is IGNORED when userawmsg is on (LogError + raw
          message wins, mmnormalize.c:399-410).
        """
        from rsyslog_spark.mods import load_rulebase_text, parse_rulebase

        rule = p.get("rule")
        rb_file = p.get("rulebase")
        if rule is not None and rb_file is not None:
            raise ValueError(
                "mmnormalize: only one rulebase possible, rulebase "
                "can't be used with rule (mmnormalize.c:417-421)"
            )
        if rule is None and rb_file is None:
            raise ValueError(
                "mmnormalize: rulebase needed. Use option rulebase or "
                "rule. (mmnormalize.c:411-416)"
            )
        text = load_rulebase_text(
            rule, rb_file, "mmnormalize",
            "ln_loadSamples, mmnormalize.c:147-152",
        )
        path = p.get("path", "$!")
        if len(path) < 2 or not path.startswith("$"):
            # reference logs and keeps the default (no abort)
            path = "$!"
        if len(path) > 2:
            prefix = tpl_var_key(path) + "!"
        else:
            # bare roots: $. grafts into the local namespace
            prefix = "." if path == "$." else ""
        use_raw = p.get("userawmsg", "off") in ("on", "1")
        variable = p.get("variable")
        if variable is not None and use_raw:
            # 'variable' can't be used with 'useRawMsg' — raw wins
            variable = None
        # module(load="mmnormalize" allowRegex="on") gates the regex
        # field_type (setModCnf allow_regex -> ln_setCtxOpts,
        # mmnormalize.c:108-110,320-345)
        allow_regex = any(
            "mmnormalize" in str(m.get("load", ""))
            and str(m.get("allowregex", "off")).lower() in ("on", "1")
            for m in self.cfg.modules
        )
        return Normalize(
            rules=parse_rulebase(text, allow_regex=allow_regex),
            prefix=prefix,
            use_rawmsg=use_raw,
            variable=variable,
        )

    # -- expressions -----------------------------------------------------
    # Reference precedence (grammar.y:120-124), lowest to highest:
    #   %left AND OR                  (SAME level, left-assoc!)
    #   %left all comparisons
    #   %left '+' '-' '&'
    #   %left '*' '/' '%'
    #   %nonassoc UMINUS NOT
    # Every level returns (Column, kind) with kind in {'s','n','b'}:
    # 's' stringish (the mixed-type comparison dance applies), 'n'
    # number, 'b' boolean. rsyslog has NO boolean type — comparisons
    # yield number 0/1 (cnfexprEval 'N' results), so a boolean flowing
    # into string context must render '1'/'0', NOT Spark's
    # 'true'/'false' (kind 'b' exists exactly for that conversion).
    # (ADVICE r01: parens must not change comparison semantics — kind
    # flows THROUGH parens.)

    @staticmethod
    def _vstr(col: Column, kind: str) -> Column:
        """Value -> string per var2String (rainerscript.c:1432-1456):
        booleans are numbers in rsyslog, so render 1/0."""
        if kind == "b":
            return rs_to_string(col.cast("int"))
        return rs_to_string(col)

    @staticmethod
    def _vnum(col: Column, kind: str) -> Column:
        """Value -> number per var2Number: engine booleans become 1/0
        HERE (kind-tracked — the generic string coercion must never see
        a Spark boolean, so a string whose content is 'true' correctly
        coerces to 0, ADVICE r02)."""
        if kind == "b":
            return col.cast("int").cast("long")
        return rs_to_number(col)

    def expr(self) -> Column:
        col, _ = self.expr_v()
        return col

    def expr_v(self) -> tuple[Column, bool]:
        left, ls = self.cmp_expr()
        while self.peek()[1] in ("and", "or"):
            _, op = self.next()
            right, rk = self.cmp_expr()
            # rsyslog truthiness: operands through var2Number != 0
            lb = left if ls == "b" else (self._vnum(left, ls) != 0)
            rb = right if rk == "b" else (self._vnum(right, rk) != 0)
            left = (lb & rb) if op == "and" else (lb | rb)
            ls = "b"
        return left, ls

    _CMP = {"==", "!=", "<>", "<", "<=", ">", ">="}
    _STR_OPS = {"contains", "contains_i", "startswith", "startswith_i"}

    def cmp_expr(self) -> tuple[Column, bool]:
        left, left_is_str = self.sum_expr()
        while True:
            kind, op = self.peek()
            if op not in self._CMP and op not in self._STR_OPS:
                return left, left_is_str
            self.next()
            if self.peek()[1] == "[":
                arr = self.array_literal()
                left = self.array_cmp(left, op, arr)
            else:
                right, right_is_str = self.sum_expr()
                left = self.compare(left, op, right, left_is_str, right_is_str)
            left_is_str = "b"  # comparisons yield number 0/1

    def sum_expr(self) -> tuple[Column, bool]:
        """'+' '-' '&' — one precedence level, left-assoc
        (grammar.y:122). '&' renders numbers decimal
        (rainerscript.c:3468-3479); +/- are var2Number arithmetic."""
        left, ls = self.prod_expr()
        while self.peek()[1] in ("+", "-", "&"):
            _, op = self.next()
            right, rs = self.prod_expr()
            if op == "&":
                left = F.concat(self._vstr(left, ls), self._vstr(right, rs))
                ls = "s"
            else:
                ln, rn = self._vnum(left, ls), self._vnum(right, rs)
                left = (ln + rn) if op == "+" else (ln - rn)
                ls = "n"
        return left, ls

    def prod_expr(self) -> tuple[Column, bool]:
        """'*' '/' '%' (grammar.y:123); division by zero yields 0
        (COMP_NUM_BINOP_DIV, rainerscript.c:2996-3005)."""
        left, ls = self.unary_expr()
        while self.peek()[1] in ("*", "/", "%"):
            _, op = self.next()
            right, rk = self.unary_expr()
            ln, rn = self._vnum(left, ls), self._vnum(right, rk)
            if op == "*":
                left = ln * rn
            elif op == "/":
                left = rs_div(ln, rn)
            else:
                left = rs_mod(ln, rn)
            ls = "n"
        return left, ls

    def unary_expr(self) -> tuple[Column, bool]:
        """UMINUS and NOT bind TIGHTEST (%nonassoc, grammar.y:124):
        `not $x == 1` is (not $x) == 1 in the reference."""
        kind, v = self.peek()
        if v == "-":
            self.next()
            operand, k = self.unary_expr()
            return -self._vnum(operand, k), "n"
        if v == "not":
            self.next()
            operand, k = self.unary_expr()
            # rsyslog truthiness: !var2Number(x); kind-aware so engine
            # booleans become 1/0 before the generic coercion
            return ~(self._vnum(operand, k) != 0), "b"
        return self.primary()

    def array_literal(self) -> list[str]:
        self.expect("[")
        vals = []
        while self.peek()[1] != "]":
            kind, v = self.next()
            if v == ",":
                continue
            vals.append(_unquote(v) if kind == "string" else v)
        self.expect("]")
        return vals

    def array_cmp(self, left: Column, op: str, arr: list[str]) -> Column:
        """right-side constant array: set membership / ANY-semantics
        (evalStrArrayCmp, rainerscript.c:2950-2983)."""
        if op == "==":
            return left.cast("string").isin(arr)
        if op in ("!=", "<>"):
            return ~left.cast("string").isin(arr)
        if op in ("contains", "contains_i"):
            s = left.cast("string")
            conds = [
                (F.lower(s).contains(v.lower()) if op.endswith("_i")
                 else s.contains(v))
                for v in arr
            ]
            out = conds[0]
            for c in conds[1:]:
                out = out | c
            return out
        raise ValueError(f"array not supported with {op!r}")

    def compare(self, left, op, right, l_str, r_str) -> Column:
        """Mixed-type comparison dance (rainerscript.c:3056-3369): when a
        string side fully converts to a number and the other side is a
        number, compare numerically; else compare as strings."""
        if op in self._STR_OPS:
            ls = self._vstr(left, l_str)
            rs = self._vstr(right, r_str)
            if op == "contains":
                return ls.contains(rs)
            if op == "contains_i":
                return F.lower(ls).contains(F.lower(rs))
            if op == "startswith":
                return ls.startswith(rs)
            return F.lower(ls).startswith(F.lower(rs))
        num_mode = (
            (rs_is_number(left) if l_str == "s" else F.lit(True))
            & (rs_is_number(right) if r_str == "s" else F.lit(True))
        )
        ln, rn = self._vnum(left, l_str), self._vnum(right, r_str)
        ls, rs = self._vstr(left, l_str), self._vstr(right, r_str)
        ops = {
            "==": lambda a, b: a == b,
            "!=": lambda a, b: a != b,
            "<>": lambda a, b: a != b,
            "<": lambda a, b: a < b,
            "<=": lambda a, b: a <= b,
            ">": lambda a, b: a > b,
            ">=": lambda a, b: a >= b,
        }
        f = ops[op]
        return F.when(num_mode, f(ln, rn)).otherwise(f(ls, rs))

    def primary(self) -> tuple[Column, bool]:
        """Returns (column, is_stringish) for coercion decisions."""
        kind, v = self.next()
        if v == "(":
            e, s = self.expr_v()
            self.expect(")")
            # stringishness flows THROUGH parens (rainerscript has no
            # paren node at all — ADVICE r01 fix)
            return e, s
        if kind == "string":
            return F.lit(_unquote(v)), "s"
        if kind == "number":
            return F.lit(int(v)), "n"
        if kind == "prop":
            return self.prop_column(v), "s"
        if kind == "name" and self.peek()[1] == "(":
            return self.func_call(v)
        raise ValueError(f"unsupported expression token {v!r}")

    # -- function registry ----------------------------------------------
    def fparams(self) -> list[tuple[Column, bool, object]]:
        """'(' expr, expr, ... ')' — each as (col, is_str, literal).
        ``literal`` is the python value when the param is a single
        string/number token (needed for compile-time params: regex
        patterns, table/template names, formats), else None."""
        self.expect("(")
        out = []
        while self.peek()[1] != ")":
            lit = None
            kind, v = self.peek()
            nxt = self.peek(1)[1]
            if kind in ("string", "number") and nxt in (",", ")"):
                lit = _unquote(v) if kind == "string" else int(v)
            col, s = self.expr_v()
            out.append((col, s, lit))
            if self.peek()[1] == ",":
                self.next()
        self.expect(")")
        return out

    def _set_err(self, err: Column):
        e = err.cast("int")
        if self._path_stack:
            gate = self._path_stack[0]
            for g in self._path_stack[1:]:
                gate = gate & g
            # rows on the other branch keep their previous errno
            e = F.when(gate, e).otherwise(self._script_err)
        self._script_err = e

    def func_call(self, name: str) -> tuple[Column, bool]:
        """Function registry (rainerscript.c:3730-3763). Fallible calls
        update the script_error() channel exactly like wtiSetScriptErrno."""
        from rsyslog_spark import functions as rf

        name = name.lower()
        if name not in _FUNNAMES:
            raise ValueError(f"unknown function {name!r} (registry parity: "
                             "rainerscript.c:3730-3763)")
        if name == "script_error":
            self.expect("(")
            self.expect(")")
            return self._script_err, "n"
        if name == "previous_action_suspended":
            # rainerscript.c:2803 doFunct_PrevActionSuspended: 1 while
            # the previous action (textual order, same rule as the
            # failover chain compiler) is suspended
            self.expect("(")
            self.expect(")")
            return F.lit(1 if self._prev_act_susp else 0), "n"
        if name == "unflatten":
            # unflatten($!, sep) (contrib/fmunflatten): the first arg
            # must be the bare tree root — the raw vars map, not a
            # rendered value. Errors follow the fixtures: a >1-char
            # sep or an empty tree -> script_error=1, result number 0
            # (rscript_unflatten_arg1_unsuitable / _arg2_invalid).
            self.expect("(")
            _, ref = self.next()
            if ref not in ("$!", "$."):
                raise ValueError(
                    "unflatten: first argument must be the bare tree "
                    "root ($!) in this engine (subtree sources are "
                    "not modeled over the flat bag)"
                )
            self.expect(",")
            kind2, sepv = self.next()
            if kind2 != "string":
                raise ValueError(
                    "unflatten: separator must be a string literal"
                )
            sep = _unquote(sepv)
            self.expect(")")
            from rsyslog_spark.templates import unflatten_expr

            if len(sep) != 1:
                self._set_err(F.lit(1))
                return F.lit(0), "n"
            res = unflatten_expr(
                F.col("vars"), sep,
                scope="local" if ref == "$." else "msg",
            )
            # the error channel must reflect the tree AS OF THIS CALL —
            # a later script_error() re-resolves `vars` lazily at its
            # own position (keys set in between would flip the verdict),
            # so the verdict is captured NOW into a hidden var via the
            # pre-stmt machinery (renders/unflatten exclude __-keys)
            self._err_n = getattr(self, "_err_n", 0) + 1
            errkey = f"__unflatten_err{self._err_n}"
            self._pre_stmts.append(
                Set(
                    "$." + errkey,
                    F.when(res.isNull(), F.lit("1")).otherwise(
                        F.lit("0")
                    ),
                    force_reset=True,
                )
            )
            stored_err = F.coalesce(
                F.element_at(F.col("vars"), "." + errkey).cast("int"),
                F.lit(0),
            )
            self._set_err(stored_err)
            return F.coalesce(res, F.lit("0")), "s"
        if name == "exists":
            # exists($!x): property existence, NOT empty-string test
            # (grammar.y:222, msgCheckVarExists msg.h:234)
            self.expect("(")
            _, ref = self.next()
            self.expect(")")
            if ref.startswith(("$!", "$.")):
                # a node exists when it is a leaf OR a parent of one
                # (msgCheckVarExists walks the tree — exists($!a) is
                # true when only $!a!b is set; r5, same
                # leaf-or-subtree rule as template refs)
                key = tpl_var_key(ref)
                return (
                    F.map_contains_key(F.col("vars"), F.lit(key))
                    | F.exists(
                        F.map_keys(F.col("vars")),
                        lambda k: k.startswith(key + "!"),
                    ),
                    "b",
                )
            return resolve_property(ref[1:]).isNotNull(), "b"
        if name == "prifilt":
            self.expect("(")
            _, sel = self.next()
            self.expect(")")
            return (
                prifilt_predicate(
                    _unquote(sel),
                    F.col("syslogfacility"),
                    F.col("syslogseverity"),
                ),
                "b",
            )
        if name == "get_property":
            # doFunc_get_property (rainerscript.c:1834-1944): JSON-var
            # source -> member lookup (missing key = EINVAL + ''),
            # string property source -> the string itself (EOK),
            # string literal source -> EINVAL + ''
            self.expect("(")
            kind0, ref = self.peek()
            if kind0 == "prop" and ref.startswith(("$!", "$.")):
                self.next()
                self.expect(",")
                (keyc, _, keylit), = [self.fparam_one()]
                self.expect(")")
                base = tpl_var_key(ref)
                flat = F.concat(F.lit(base + "!"), rs_to_string(keyc))
                direct = F.element_at(F.col("vars"), flat)
                # containers stored as JSON text (parse_json) resolve
                # through get_json_object on the stored value
                stored = F.element_at(F.col("vars"), F.lit(base))
                via_json = F.element_at(
                    F.from_json(stored, "map<string,string>"),
                    rs_to_string(keyc),
                )
                val = F.coalesce(direct, via_json)
                self._set_err(F.when(val.isNull(), 1).otherwise(0))
                return F.coalesce(val, F.lit("")), "s"
            # non-var source
            args = self.fparams_rest()
            (srcc, src_s, srclit) = args[0]
            if srclit is not None:
                self._set_err(F.lit(1))  # literal source: EINVAL
                return F.lit(""), "s"
            self._set_err(F.lit(0))
            return rs_to_string(srcc), "s"
        p = self.fparams()

        def lit_or(i, default=None):
            return p[i][2] if i < len(p) and p[i][2] is not None else default

        c = [x[0] for x in p]
        # string views of each arg, boolean-aware (var2String: booleans
        # are numbers, render 1/0)
        cs = [self._vstr(col, k) for col, k, _ in p]
        if name == "strlen":
            return rf.rs_strlen(cs[0]), "n"
        if name == "getenv":
            # evaluated at config-load time (driver-side env; executors
            # may differ — the reference reads the daemon's env, same
            # single-process semantics)
            val = os.environ.get(str(lit_or(0, "")), "")
            return F.lit(val), "s"
        if name == "num2ipv4":
            return rf.rs_num2ipv4(self._vnum(c[0], p[0][1])), "s"
        if name == "int2hex":
            return rf.rs_int2hex(self._vnum(c[0], p[0][1])), "s"
        if name == "substring":
            return rf.rs_substring(cs[0], c[1], c[2]), "s"
        if name == "ltrim":
            return rf.rs_ltrim(cs[0]), "s"
        if name == "rtrim":
            return rf.rs_rtrim(cs[0]), "s"
        if name == "tolower":
            return rf.rs_tolower(cs[0]), "s"
        if name == "cstr":
            return cs[0], "s"
        if name == "cnum":
            return self._vnum(c[0], p[0][1]), "n"
        if name in ("ip42num", "ipv42num"):
            return rf.rs_ipv42num(cs[0]), "n"
        if name in ("hash32", "hash64"):
            # fmhash function module (contrib/fmhash): optional seed
            fn = rf.rs_hash32 if name == "hash32" else rf.rs_hash64
            seed = self._vnum(c[1], p[1][1]) if len(p) > 1 else None
            return fn(cs[0], seed), "n"
        if name in ("hash32mod", "hash64mod"):
            fn = rf.rs_hash32 if name == "hash32mod" else rf.rs_hash64
            seed = self._vnum(c[2], p[2][1]) if len(p) > 2 else None
            return rf.rs_hash_mod(
                fn(cs[0], seed), self._vnum(c[1], p[1][1])
            ), "n"
        if name in ("re_match", "re_match_i"):
            pat = lit_or(1)
            if pat is None:
                raise ValueError("re_match pattern must be a literal "
                                 "(compiled at config time, initFunc_re_match)")
            return (
                rf.rs_re_match(cs[0], str(pat),
                               case_insensitive=name.endswith("_i")),
                "b",
            )
        if name in ("re_extract", "re_extract_i"):
            pat = lit_or(1)
            if pat is None:
                raise ValueError("re_extract pattern must be a literal")
            return (
                rf.rs_re_extract(
                    cs[0], str(pat),
                    int(lit_or(2, 0)), int(lit_or(3, 0)),
                    str(lit_or(4, "")),
                ),
                "s",
            )
        if name == "field":
            delim = lit_or(1)
            # numeric delim = char code (doFunct_Field; field($msg,58,2)
            # splits on ':'), string delim used as-is
            d = chr(delim) if isinstance(delim, int) else str(delim)
            return rf.rs_field(cs[0], d, c[2]), "s"
        if name == "exec_template":
            return self._template(str(lit_or(0, ""))), "s"
        if name == "lookup":
            tname = str(lit_or(0, ""))
            tbl = self.cfg.lookups.get(tname)
            if tbl is None:
                raise ValueError(f"unknown lookup table {tname!r} "
                                 "(declare lookup_table(name=.. file=..))")
            return tbl.lookup_expr(cs[1]), "s"
        if name == "replace":
            if p[1][2] is not None and p[2][2] is not None:
                return (
                    rf.rs_replace(cs[0], str(p[1][2]),
                                  str(p[2][2])),
                    "s",
                )
            return (
                F.replace(cs[0], cs[1], cs[2]),
                "s",
            )
        if name == "wrap":
            esc = str(p[2][2]) if len(p) > 2 and p[2][2] is not None else None
            return rf.rs_wrap(cs[0], str(lit_or(1, '"')), esc), "s"
        if name == "format_time":
            return (
                rf.rs_format_time(self._vnum(c[0], p[0][1]), str(lit_or(1, ""))),
                "s",
            )
        if name == "parse_time":
            s = cs[0]
            self._set_err(F.when(rf.rs_is_time(s), 0).otherwise(1))
            return rf.rs_parse_time(s), "n"
        if name == "is_time":
            s = cs[0]
            ok = rf.rs_is_time(s)
            self._set_err(F.when(ok, 0).otherwise(1))
            return ok.cast("int"), "n"
        if name == "parse_json":
            # doFunc_parse_json (rainerscript.c:1795-1820): parse arg0
            # into the container var arg1; returns 0/EINVAL and sets
            # script_errno. Side effect = a Set of the container key to
            # the (validated) JSON text, flushed before the enclosing
            # statement; nested access goes through get_property.
            container = str(lit_or(1, ""))
            # preserve the container's tree: "$.doc" stays a LOCAL var
            # (doFunc_parse_json writes to the named var's own tree)
            tree = "$." if container.startswith("$.") else "$!"
            key = container.lstrip("$!.").lstrip("!")
            src = cs[0]
            valid = F.from_json(src, "map<string,string>").isNotNull()
            self._pre_stmts.append(
                Set(tree + key, F.when(valid, src), force_reset=True)
            )
            err = F.when(valid, 0).otherwise(1)
            self._set_err(err)
            return err, "n"
        raise AssertionError(name)

    def fparam_one(self):
        lit = None
        kind, v = self.peek()
        nxt = self.peek(1)[1]
        if kind in ("string", "number") and nxt in (",", ")"):
            lit = _unquote(v) if kind == "string" else int(v)
        col, s = self.expr_v()
        return (col, s, lit)

    def fparams_rest(self):
        out = []
        while self.peek()[1] != ")":
            out.append(self.fparam_one())
            if self.peek()[1] == ",":
                self.next()
        self.expect(")")
        return out

    def prop_column(self, ref: str) -> Column:
        if ref in ("$!", "$."):
            # bare root reference -> whole-tree json-c render of that
            # tree's namespace ($. = '.'-prefixed local keys)
            from rsyslog_spark.templates import render_vars_tree

            return render_vars_tree(
                F.col("vars"),
                scope="local" if ref == "$." else "msg",
            )
        if ref.startswith("$!") or ref.startswith("$."):
            return F.element_at(F.col("vars"), F.lit(tpl_var_key(ref)))
        name = ref[1:]
        # Boolean-typed engine columns become 0/1 at the expression
        # boundary (bParseSuccess is an int flag in the reference,
        # msg.h:67) so the generic var2Number/var2String coercions never
        # see a Spark boolean — and a string var whose content happens
        # to be 'true' keeps its reference semantics (coerces to 0).
        if name.lower() in ("parsesuccess", "parse_success"):
            return resolve_property(name).cast("int")
        return resolve_property(name)


_LEGACY_SELECTOR = re.compile(
    r"^\s*(?P<filt>[^\s]+)\s+(?P<target>-?/\S+|\*)\s*$"
)
_LEGACY_PROPFILT = re.compile(
    r"^\s*:(?P<prop>[A-Za-z\-]+),\s*(?P<neg>!?)(?P<op>[a-z]+),\s*"
    r'"(?P<val>[^"]*)"\s+(?P<target>-?/\S+)\s*$'
)
_LEGACY_TEMPLATE = re.compile(r'^\s*\$template\s+(\w+),"(?P<t>[^"]*)"')
# mmsnmptrapd legacy faces (the module has no v6 param block):
# directives (eCmdHdlrGetWord = one space-delimited word) + action line
_LEGACY_SNMPTRAPD_CS = re.compile(
    r"^\s*\$mmsnmptrapd(Tag|SeverityMapping)\s+(\S+)\s*$", re.IGNORECASE
)
_LEGACY_SNMPTRAPD_ACT = re.compile(r"^\s*:mmsnmptrapd:(;\S*)?\s*$")
# omruleset legacy faces (deprecated 'call' predecessor, omruleset.c)
_LEGACY_OMRULESET_CS = re.compile(
    r"^\s*\$ActionOmrulesetRulesetName\s+(\S+)\s*$", re.IGNORECASE
)
_LEGACY_OMRULESET_ACT = re.compile(r"^\s*:omruleset:(;\S*)?\s*$")


_BSD_BLOCK = re.compile(r"^\s*[!+][^\s=]+\s*$")


def _legacy_line(line: str, cfg: ParsedConfig) -> bool:
    """Handle sysklogd-style lines (conf.c legacy format). Returns True
    if the line was consumed."""
    if _BSD_BLOCK.match(line):
        # exact reference parity: modern rsyslog REJECTS BSD-style
        # blocks (cnfDoBSDTag/cnfDoBSDHost, runtime/rsconf.c:519-536)
        raise ValueError(
            f"BSD-style blocks are no longer supported (rsconf.c:519-536):"
            f" {line.strip()!r}"
        )
    m = _LEGACY_TEMPLATE.match(line)
    if m:
        cfg.templates[m.group(1)] = m.group("t")
        return True
    m = _LEGACY_OMRULESET_CS.match(line)
    if m:
        # $ActionOmrulesetRulesetName (omruleset.c:144-163 setRuleset)
        cfg.omruleset_name = m.group(1)
        return True
    if _LEGACY_OMRULESET_ACT.match(line):
        # ':omruleset:[;template]' — template parsed but IGNORED
        # (omruleset.c:185-189); doAction = MsgDup + submit to the
        # target ruleset's QUEUE (:127-141) ≡ this engine's queued
        # call (copy semantics). Missing directive = the reference's
        # RS_RET_NO_RULESET config error (:176-180); the name is
        # auto-reset after the instance binds (:196-199).
        if getattr(cfg, "omruleset_name", None) is None:
            raise ValueError(
                "omruleset: no ruleset was specified, use "
                "$ActionOmrulesetRulesetName directive first! "
                "(omruleset.c:176-180)"
            )
        cfg.main.append(Call(cfg.omruleset_name, queued=True))
        cfg.omruleset_name = None
        return True
    m = _LEGACY_SNMPTRAPD_CS.match(line)
    if m:
        # $mmsnmptrapdTag / $mmsnmptrapdSeverityMapping (mmsnmptrapd.c:
        # 429-432, eCmdHdlrGetWord) — buffered until an instance
        # consumes them
        key = (
            "tag" if m.group(1).lower() == "tag" else "severitymapping"
        )
        cfg.snmptrapd_cs[key] = m.group(2)
        return True
    if _LEGACY_SNMPTRAPD_ACT.match(line):
        # legacy action line ':mmsnmptrapd:[;template]' — the template,
        # if any, is parsed but IGNORED (mmsnmptrapd.c:331-337); the
        # instance snapshots + resets the buffered directives
        # (:340-363). Like the other legacy faces, the statement lands
        # in main in pre-pass order.
        from rsyslog_spark.mods import parse_snmptrapd_severity_mapping

        cs = cfg.snmptrapd_cs
        cfg.main.append(
            SnmpTrapd(
                tag=cs.get("tag", "snmptrapd"),
                severity_mapping=parse_snmptrapd_severity_mapping(
                    cs.get("severitymapping", "")
                ),
            )
        )
        cs.clear()
        return True
    m = _LEGACY_PROPFILT.match(line)
    if m:
        sink = os.path.splitext(os.path.basename(m.group("target")))[0]
        pred = propfilt_predicate(
            resolve_property(m.group("prop")),
            m.group("op"),
            m.group("val"),
            negate=bool(m.group("neg")),
        )
        cfg.main.append(If(pred, [Action(sink)]))
        return True
    m = _LEGACY_SELECTOR.match(line)
    if m and ("." in m.group("filt")) and not line.lstrip().startswith(("if", "$")):
        filt = m.group("filt")
        target = m.group("target").lstrip("-")
        sink = os.path.splitext(os.path.basename(target))[0] or "star"
        pred = prifilt_predicate(
            filt, F.col("syslogfacility"), F.col("syslogseverity")
        )
        cfg.main.append(If(pred, [Action(sink)]))
        return True
    return False


def parse_config(
    text: str,
    lookups: dict | None = None,
    suspended_sinks: set | None = None,
) -> ParsedConfig:
    """Parse a config text (RainerScript subset + legacy lines)."""
    cfg = ParsedConfig()
    if lookups:
        cfg.lookups.update(lookups)
    if suspended_sinks:
        cfg.suspended.update(suspended_sinks)
    tokens = _tokenize(_strip_legacy(text, cfg))
    return _Parser(tokens, cfg).parse()


def _include_files(pattern: str, optional: bool) -> str:
    """Resolve an include file glob to concatenated config text
    (cnfDoInclude, grammar/rainerscript.c:5393-5470: glob sorted,
    directories recursed, zero matches an error unless optional)."""
    import glob as _glob

    paths = sorted(_glob.glob(pattern))
    if not paths:
        if optional:
            return ""
        raise ValueError(
            f"include file {pattern!r} could not be accessed "
            "(cnfDoInclude; mode abort-if-missing/required)"
        )
    out = []
    for path in paths:
        if os.path.isdir(path):
            out.append(
                _include_files(os.path.join(path, "*"), optional=True)
            )
        else:
            with open(path) as fh:
                out.append(fh.read())
    return "\n".join(out)


def _strip_legacy(text: str, cfg: ParsedConfig) -> str:
    """Consume legacy sysklogd lines into cfg; return the modern-syntax
    remainder. $IncludeConfig (legacy include directive) splices the
    globbed files' content in place, recursively."""
    modern_lines = []
    for line in text.splitlines():
        stripped = line.strip()
        if not stripped or stripped.startswith("#"):
            continue
        if stripped.lower().startswith("$includeconfig"):
            parts = stripped.split(None, 1)
            pat = parts[1].strip() if len(parts) > 1 else ""
            # legacy semantics: a non-matching glob is tolerated
            # (doIncludeFile logs and continues)
            modern_lines.append(
                _strip_legacy(_include_files(pat, optional=True), cfg)
            )
            continue
        if _legacy_line(line, cfg):
            continue
        modern_lines.append(line)
    return "\n".join(modern_lines)


def compile_config(df, text: str, entry: str | None = None,
                   lookups: dict | None = None,
                   suspended_sinks: set | None = None):
    """Text config -> (annotated DataFrame, actions). ``entry`` defaults
    to 'main' (statements outside any ruleset) or the single ruleset.
    ``suspended_sinks`` marks sinks currently down: their actions
    deliver nothing and execOnlyWhenPreviousIsSuspended failovers fire
    (action.c:1812-1815)."""
    cfg = parse_config(text, lookups=lookups,
                       suspended_sinks=suspended_sinks)
    rc = cfg.compiler()
    if entry is None:
        entry = "main" if cfg.main else next(iter(cfg.rulesets))
    return rc.compile(df, entry)


def apply_ruleset_parsers(
    df,
    text: str,
    ruleset: str,
    text_col: str = "text",
    recv_ts_col: str = "ts",
):
    """Apply a ruleset's custom parser chain (ruleset(parser=[...]),
    ruleset.c parser list; reference tests pmnull-basic/withparams.sh)
    to ``df`` and return (parsed frame, ParsedConfig).

    Named instances resolve through parser() objects; the default
    instances ``rsyslog.pmnull`` / ``rsyslog.ciscoios``
    (PARSER_NAME in pmnull.c / pmciscoios.c) resolve with default
    parameters. Unknown names are a config error, like the reference's
    RS_RET_PARSER_NAME_NOT_FOUND."""
    from rsyslog_spark.parse.chain_custom import build_custom_chain

    cfg = parse_config(text)
    rs = cfg.rulesets.get(ruleset)
    if rs is None:
        raise ValueError(f"unknown ruleset {ruleset!r}")
    if not rs.parsers:
        raise ValueError(
            f"ruleset {ruleset!r} binds no parser chain; the default "
            "chain is parse.with_parsed"
        )
    instances = []
    for nm in rs.parsers:
        if nm in cfg.parsers:
            instances.append(cfg.parsers[nm])
        elif nm == "rsyslog.pmnull":
            instances.append({"name": nm, "type": "pmnull"})
        elif nm == "rsyslog.ciscoios":
            instances.append({"name": nm, "type": "pmciscoios"})
        elif nm == "rsyslog.cisconames":
            # PARSER_NAME in contrib/pmcisconames/pmcisconames.c:51
            instances.append({"name": nm, "type": "pmcisconames"})
        elif nm == "rsyslog.aixforwardedfrom":
            # PARSER_NAME in contrib/pmaixforwardedfrom (module default)
            instances.append({"name": nm, "type": "pmaixforwardedfrom"})
        elif nm == "rsyslog.snare":
            # PARSER_NAME in contrib/pmsnare/pmsnare.c:65
            instances.append({"name": nm, "type": "pmsnare"})
        elif nm == "rsyslog.panngfw":
            # PARSER_NAME in contrib/pmpanngfw/pmpanngfw.c:44
            instances.append({"name": nm, "type": "pmpanngfw"})
        elif nm == "db2.diag":
            # PARSER_NAME in contrib/pmdb2diag/pmdb2diag.c:48
            instances.append({"name": nm, "type": "pmdb2diag"})
        elif nm == "rsyslog.pmnormalize":
            # PARSER_NAME in plugins/pmnormalize/pmnormalize.c:46 —
            # resolves, then fails instance validation (a rulebase is
            # mandatory, so only parser() objects are usable)
            instances.append({"name": nm, "type": "pmnormalize"})
        else:
            raise ValueError(
                f"parser {nm!r} not found (RS_RET_PARSER_NAME_NOT_FOUND)"
            )
    return build_custom_chain(df, instances, text_col, recv_ts_col), cfg
