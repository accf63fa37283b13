"""Ruleset compiler: statement lists -> per-sink predicates + projections.

Reference: scriptExec (runtime/ruleset.c:577-636) executes a statement
list per message; statement types grammar/rainerscript.h:109-121.

KEY INSIGHT (SURVEY §2.8): because RainerScript statements are
side-effect-free except set/unset (linear, no loops) and ``stop``, a
ruleset compiles to STATIC per-sink algebra:

    P_k = AND(enclosing conditions)  AND  NOT(any reachable earlier stop)

so rsyslog's multicast-with-stop becomes one filtered write per sink
(the union of that sink's actions' rows, ``sinks.fan_out``) over ONE
annotated DataFrame — single scan, each write counting its own rows,
fully declarative for Catalyst. Actions never stop the script (execAct,
ruleset.c:199-218: action errors don't abort), so actions contribute
nothing to downstream predicates.

Statements:
- Action(sink, template=...)          ≙ S_ACT (ruleset.c:199)
- Stop()                              ≙ S_STOP / '~' (ruleset.c:595-597)
- If(cond, then, els)                 ≙ S_IF (ruleset.c:304-320)
- PriFilt(selector, then)             ≙ S_PRIFILT (ruleset.c:420)
- PropFilt(prop, op, value, then)     ≙ S_PROPFILT (ruleset.c:537)
- Set(name, expr, force_reset) /
  Unset(name)                         ≙ S_SET/S_UNSET (ruleset.c:220-239)
- Call(name)                          ≙ S_CALL inline (ruleset.c:283-302);
  Call(name, queued=True)             ≙ S_CALL to a ruleset with its own
  queue (execCall MsgDup branch, ruleset.c:283-302): the target sees a
  COPY of the message as of the call — its set/unset and stop do NOT
  affect the caller's continuation (tests/omruleset-queue.sh)
- CallIndirect(expr)                  ≙ S_CALL_INDIRECT
  (execCallIndirect, ruleset.c:241-281): ruleset name computed per
  message; unknown name = NOP ("we accept that a NOP will survive")
- Foreach(var, collection, mode)      ≙ S_FOREACH (execForeach,
  ruleset.c:392-418): explode a JSON array (element per iteration) or
  object ({key,value} pairs, callForeachObject ruleset.c:347-390) into
  per-element rows; body actions emit one row per ELEMENT. The Spark
  shape is explode + filtered writes on the exploded plane — the body's
  per-sink predicates work exactly like the row plane's.
- Continue()                          ≙ NOP (rainerscript.h:389)

``omdiscard`` is modeled as Stop() — the reference optimizer rewrites it
exactly so (rainerscript.c:5088-5099).

Variables: the ``$!`` tree is a ``vars: map<string,string>`` column;
set-without-reset does NOT overwrite an existing key (force_reset flag,
rainerscript.h:140; msgSetJSONFromVar semantics) — replicated via
map_contains_key guard.

Template rendering is LAZY: compile() annotates the frame with predicate
(and vars-state) columns only; the rendered output line is attached by
``CompiledAction.output(df)`` AFTER the sink filter. Two scale effects:
only matching rows pay the render cost (the reference renders per
action submission too, tplToString tools/omfile.c path), and the hot
predicate projection stays small enough for whole-stage codegen (a
multi-sink eager render collapsed into one Project used to overflow
janino's 64 KB method limit — PERF.md r01). Position-correct semantics
(a template sees vars as of ITS statement, ruleset.c sequential exec)
are preserved by snapshotting the vars map column at the action's
position whenever the program contains any set/unset.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rsyslog_spark import mods
from rsyslog_spark.external import mm_external
from rsyslog_spark.filters import prifilt_predicate, propfilt_predicate
from rsyslog_spark.templates import compile_template, resolve_property
from rsyslog_spark.templates import var_key as _var_key


# --- statement model --------------------------------------------------------

@dataclass
class Action:
    sink: str
    template: str | Column | None = None  # None -> raw row routing
    # action.execOnlyWhenPreviousIsSuspended (action.c:1812-1815):
    # this action attempts delivery only while the previous action in
    # textual order is suspended — the standard failover-chain pattern
    # (reference tests execonlywhenpreviousissuspended*.sh)
    exec_when_prev_suspended: bool = False
    # action.errorfile (action.c:200, actionWriteErrorFile :1410-1466):
    # permanently-failed events are captured as JSON lines
    # {"action": name, "status": code, "template0": rendered}; here a
    # suspended action's attempted rows flow to this error sink
    errorfile: str | None = None


@dataclass
class Stop:
    pass


@dataclass
class If:
    cond: Column
    then: list = field(default_factory=list)
    els: list = field(default_factory=list)


@dataclass
class PriFilt:
    selector: str
    then: list = field(default_factory=list)
    els: list = field(default_factory=list)


@dataclass
class PropFilt:
    prop: str
    op: str
    value: str | None = None
    negate: bool = False
    then: list = field(default_factory=list)
    els: list = field(default_factory=list)


@dataclass
class Set:
    name: str  # '$!path' or '$.path'
    expr: Column
    force_reset: bool = False


@dataclass
class Unset:
    name: str


@dataclass
class Normalize:
    """action(type="mmnormalize"): run a liblognorm rulebase over the
    message and graft the result into the $! tree
    (plugins/mmnormalize/mmnormalize.c doAction: source = rawmsg when
    userawmsg, else the ``variable`` property, else MSG; result merged
    at ``path`` via msgAddJSON; MsgSetParseSuccess(1) on success)."""
    rules: list                 # mods.parse_rulebase output
    prefix: str = ""            # flat-key prefix ('' = $! root)
    use_rawmsg: bool = False
    variable: str | None = None


@dataclass
class TagHostname:
    """action(type="mmtaghostname"): replace TAG and/or force the
    hostname to the daemon's localhostname (contrib/mmtaghostname/
    mmtaghostname.c:160-178 doAction; executed by mods.mm_taghostname;
    the localhostname value comes from ``global(localhostname=...)`` at
    compile)."""
    tag: str | None = None
    force_localhostname: bool = False


@dataclass
class Audit:
    """action(type="mmaudit"): detect a Linux audit record in MSG and
    graft the parsed name=value pairs into ``$!audit``
    (plugins/mmaudit/mmaudit.c:203-272 doAction; executed by
    mods.mm_audit); parse_success is set 0/1 on every message the
    action sees."""


@dataclass
class Grok:
    """action(type="mmgrok"): grok-parse MSG into the ``target``
    subtree (contrib/mmgrok/mmgrok.c doAction :330-352; executed by
    mods.mm_grok)."""
    match: str
    target: str = "!"
    patterns: dict | None = None


@dataclass
class AddHmac:
    """action(type="mmrfc5424addhmac"): HMAC the raw message and append
    it as an SD element to RFC5424 messages (contrib/mmrfc5424addhmac/
    mmrfc5424addhmac.c:337-354 doAction gate + :317-334 hashMsg;
    executed by mods.mm_rfc5424addhmac)."""
    key: str
    hashfunction: str
    sd_id: str


@dataclass
class SnmpTrapd:
    """action(type="mmsnmptrapd") / legacy ``:mmsnmptrapd:``: rewrite
    snmptrapd-emitted messages (TAG ``<tag>/<sever>/<host>:``) to look
    like the real originator — TAG -> ``<tag>:``, HOSTNAME from the
    tag's host component, severity via the configured mapping
    (plugins/mmsnmptrapd/mmsnmptrapd.c:228-265 doAction; params are
    the legacy ``$mmsnmptrapdTag`` / ``$mmsnmptrapdSeverityMapping``
    directives, :429-432 — the module predates v6 param blocks)."""
    tag: str = "snmptrapd"
    severity_mapping: list = field(default_factory=list)


@dataclass
class DbLookup:
    """action(type="mmdblookup"): enrich from a MaxMind DB
    (plugins/mmdblookup/mmdblookup.c; executed by mods.mm_dblookup —
    pure-Python MMDB reader enumerated to broadcast intervals).
    ``container`` comes from module(load="mmdblookup" container=...),
    default "!iplocation" (:46, :226-228)."""
    key: str
    mmdbfile: str
    fields: list
    container: str = "!iplocation"


@dataclass
class External:
    """action(type="mmexternal"): modify messages through an external
    program speaking the stdin/stdout line protocol
    (plugins/mmexternal/mmexternal.c + plugins/external/INTERFACE.md;
    executed by rsyslog_spark.external.mm_external — one child per
    partition, reply JSON applied via MsgSetPropsViaJSON)."""
    binary: str
    interface_input: str = "msg"
    output: str | None = None
    force_single_instance: bool = False


@dataclass
class Call:
    ruleset: str
    queued: bool = False


@dataclass
class CallIndirect:
    """call_indirect EXPR — target ruleset name computed per message
    (ruleset.c:241-281). Compiled as a when-cascade over the KNOWN
    ruleset names: each candidate block runs under path AND
    (expr == name); a name matching no ruleset is a NOP."""
    expr: Column
    queued: bool = False


@dataclass
class Foreach:
    """foreach (VAR in COLLECTION) do { body } (ruleset.c:322-418).

    ``collection``: Column — array<string> (mode='array'), or
    map<string,string> (mode='object'), or a JSON-string column
    (mode='auto': parsed per row, array and object both accepted like
    execForeach's runtime json type dispatch).

    Inside the body, ``$.VAR`` resolves to the element (objects render
    as the {"key":..,"value":..} JSON the reference binds,
    callForeachObject ruleset.c:368-378); ``$.VAR!key`` /
    ``$.VAR!value`` resolve to the pair parts. The loop variable is
    removed after the loop (msgDelJSON, ruleset.c:413) — it never
    leaks to statements after the Foreach.
    """
    var: str
    collection: Column
    mode: str = "auto"  # 'array' | 'object' | 'auto'
    body: list = field(default_factory=list)


@dataclass
class Continue:
    pass


@dataclass
class Ruleset:
    name: str
    stmts: list = field(default_factory=list)
    # names of parser() instances bound via ruleset(parser=[...])
    # (ruleset.c parser chain; compiled by config.apply_ruleset_parsers)
    parsers: list = field(default_factory=list)


@dataclass
class CompiledAction:
    """One action's rows for its sink: filter predicate + lazily-rendered
    payload. ``fan_out`` writes each sink once, the union of its
    actions' rows.

    ``df`` is None for row-plane actions (use the compile() frame);
    foreach-body actions carry their own exploded frame."""
    sink: str
    pred_col: str
    out_col: str | None = None  # None -> whole row
    out_expr: Column | None = None
    vars_snapshot: str | None = None
    vars_col: str = "vars"
    df: DataFrame | None = None
    # message-column snapshots {col: snapshot_col} — pinned when a
    # later statement mutates message columns (mmtaghostname /
    # mmrfc5424addhmac / parse_success writers), same discipline as
    # vars_snapshot
    col_snapshots: dict | None = None

    def output(self, annotated: DataFrame | None = None) -> DataFrame:
        """This action's rows, with the template rendered AFTER the
        filter (only matching rows pay the render; the annotated
        frame's projection stays codegen-small)."""
        src = self.df if self.df is not None else annotated
        out = src.filter(F.col(self.pred_col))
        if self.out_col is None:
            return out
        if self.vars_snapshot is not None:
            # restore the vars state this statement position saw
            out = out.withColumn(self.vars_col, F.col(self.vars_snapshot))
        for col, snap in (self.col_snapshots or {}).items():
            out = out.withColumn(col, F.col(snap))
        return out.withColumn(self.out_col, self.out_expr)



def _check_foreach_body(
    stmts: list,
    loop_vars: str | set,
    rulesets: dict,
    _seen: frozenset = frozenset(),
) -> None:
    """Reject foreach bodies whose effects cannot survive the exploded
    plane: Set/Unset of anything but a loop variable (or its subkeys),
    and Stop.  execForeach mutates the real message (ruleset.c:392-418);
    this engine's loop body is a branched frame whose var mutations and
    stop state are discarded after the loop, so such configs must be
    rejected rather than silently diverge."""
    if isinstance(loop_vars, str):
        loop_vars = {loop_vars}
    keys = {_var_key(v) for v in loop_vars}
    for st in stmts:
        if isinstance(st, (Set, Unset)):
            k = _var_key(st.name)
            if not any(k == key or k.startswith(key + "!") for key in keys):
                raise ValueError(
                    f"foreach body sets {st.name!r}: only the loop "
                    f"variable(s) {sorted(loop_vars)} may be assigned "
                    "inside foreach (non-loop var mutations do not "
                    "persist past the loop in this engine)"
                )
        elif isinstance(st, Stop):
            raise ValueError(
                "'stop' inside a foreach body cannot stop the message "
                "in this engine (the loop runs on a branched exploded "
                "frame); restructure as an if around the loop"
            )
        elif isinstance(
            st,
            (
                Normalize,
                Audit,
                TagHostname,
                AddHmac,
                Grok,
                SnmpTrapd,
                External,
                DbLookup,
            ),
        ):
            raise ValueError(
                f"{type(st).__name__} inside a foreach body mutates "
                "message state outside the loop variable, which does "
                "not persist past the loop in this engine (the body "
                "runs on a branched exploded frame); move the action "
                "before the loop"
            )
        elif isinstance(st, (If, PriFilt, PropFilt)):
            _check_foreach_body(st.then, loop_vars, rulesets, _seen)
            _check_foreach_body(st.els, loop_vars, rulesets, _seen)
        elif isinstance(st, Foreach):
            _check_foreach_body(
                st.body, loop_vars | {st.var}, rulesets, _seen
            )
        elif isinstance(st, Call) and st.ruleset not in _seen:
            target = rulesets.get(st.ruleset)
            if target is not None and not st.queued:
                _check_foreach_body(
                    target.stmts, loop_vars, rulesets, _seen | {st.ruleset}
                )


def _has_mutation(stmts: list) -> bool:
    for st in stmts:
        if isinstance(
            st,
            (Set, Unset, Foreach, Normalize, Audit, Grok, External,
             DbLookup),
        ):
            return True
        for sub in ("then", "els", "body"):
            if hasattr(st, sub) and _has_mutation(getattr(st, sub)):
                return True
    return False


# message columns each statement type may overwrite — a template
# emitted BEFORE such a statement must snapshot them (ruleset.c
# sequential exec: the render sees the state at its own position)
_COL_MUTATORS = (
    (TagHostname, ("syslogtag", "programname", "hostname")),
    (SnmpTrapd, (
        "syslogtag", "programname", "hostname", "syslogseverity", "pri",
    )),
    # mmexternal replies may set any msgSetPropViaJSON well-known name
    (External, (
        "msg", "rawmsg", "syslogtag", "programname", "hostname",
        "procid", "msgid", "structured_data", "syslogseverity",
        "syslogfacility", "pri",
    )),
    (AddHmac, ("structured_data",)),
    (Audit, ("parse_success",)),
    (Normalize, ("parse_success",)),
)


def _mutated_cols(stmts: list) -> set:
    out: set = set()
    for st in stmts:
        for typ, cols in _COL_MUTATORS:
            if isinstance(st, typ):
                out.update(cols)
        for sub in ("then", "els", "body"):
            if hasattr(st, sub):
                out |= _mutated_cols(getattr(st, sub))
    return out


# mm* statement -> (its mods function, compiler state it takes too)
_MM_ACTIONS = {
    TagHostname: (mods.mm_taghostname, ("localhostname",)),
    SnmpTrapd: (mods.mm_snmptrapd, ()),
    DbLookup: (mods.mm_dblookup, ("vars_col",)),
    External: (mm_external, ("vars_col",)),
    Audit: (mods.mm_audit, ("vars_col",)),
    AddHmac: (mods.mm_rfc5424addhmac, ()),
    Grok: (mods.mm_grok, ("vars_col",)),
}
# statements that rewrite the frame -> the method applying one
_FRAME_STMTS = {
    Set: "_apply_set", Unset: "_apply_unset", Normalize: "_apply_normalize",
    **dict.fromkeys(_MM_ACTIONS, "_apply_mm"),
}


class RouteCompiler:
    """Compiles rulesets over a DataFrame into (annotated_df, actions)."""

    def __init__(
        self,
        rulesets: dict[str, Ruleset] | None = None,
        suspended_sinks: set | None = None,
        localhostname: str = "localhost",
    ):
        # global(localhostname=...) — mmtaghostname's forced hostname
        # (deterministic default; the daemon would use the machine name)
        self.localhostname = localhostname
        self.rulesets = rulesets or {}
        self.queued: set[str] = set()  # rulesets with their own queue
        # sinks currently marked down (the batch analog of an action in
        # ActSt_Susp, action.c actionSuspend: in the daemon the state
        # comes from delivery failures; here it comes from a health
        # probe / operator flag at plan-compile time)
        self.suspended_sinks: set = set(suspended_sinks or ())
        self._n = 0

    def add(self, rs: Ruleset) -> "RouteCompiler":
        self.rulesets[rs.name] = rs
        return self

    # -------------------------------------------------------------------
    def compile(
        self, df: DataFrame, entry: str, vars_col: str = "vars"
    ) -> tuple[DataFrame, list[CompiledAction]]:
        """Compile the entry ruleset (inlining Call targets) against df.

        Returns the annotated DataFrame (predicate columns added,
        set/unset applied in statement order) and the action list. The
        caller fans out with ``action.output(df)`` per action — one
        scan, N writes (SURVEY §2.8 'deterministic dataflow'); templates
        render after each sink's filter, never in the shared plan.
        """
        if vars_col not in df.columns:
            df = df.withColumn(vars_col, F.create_map().cast("map<string,string>"))
        self._vars_col = vars_col
        self._actions: list[CompiledAction] = []
        self._df = df
        # templates snapshot vars state only when some statement mutates
        # it — a mutation-free program (the common case) renders against
        # the live column with zero extra columns
        self._need_snapshots = any(
            _has_mutation(rs.stmts) for rs in self.rulesets.values()
        )
        # message columns some statement may overwrite: templates pin
        # these per emit position (empty set for the common case)
        self._col_mut: set = set()
        for rs in self.rulesets.values():
            self._col_mut |= _mutated_cols(rs.stmts)
        self._col_mut &= set(df.columns)
        self._true, self._false = F.lit(True), F.lit(False)
        # bPreviousSuspended analog: suspension is per-ACTION state in
        # the reference (not per message), so a compile-time boolean
        # threads through the statement walk in textual order
        self._prev_suspended = False
        self._conds, self._preds = {}, {}  # queued columns, see _flush
        self._exec_block(
            self.rulesets[entry].stmts, self._true, self._false, {entry}
        )
        self._flush()
        return self._df, self._actions

    # -------------------------------------------------------------------
    def _fresh(self, prefix: str) -> str:
        self._n += 1
        return f"_{prefix}_{self._n}"

    def _flush(self):
        """Add the queued columns as one projection of conditions and one
        of the predicates and template snapshots that read them."""
        for queued in (self._conds, self._preds):
            if queued:
                self._df = self._df.withColumns(queued)
                queued.clear()

    def _and(self, path: Column, c: Column) -> Column:
        # TRUE & c is c; each Column op is a py4j round trip to the JVM
        return c if path is self._true else path & c

    def _live(self, path: Column, stopped: Column) -> Column:
        """path & ~stopped: the rows a statement here acts on."""
        return path if stopped is self._false else self._and(path, ~stopped)

    def _cond_of(self, st) -> Column:
        if isinstance(st, If):
            return st.cond
        if isinstance(st, PriFilt):
            return prifilt_predicate(
                st.selector, F.col("syslogfacility"), F.col("syslogseverity")
            )
        if isinstance(st, PropFilt):
            return propfilt_predicate(
                resolve_property(st.prop), st.op, st.value, st.negate
            )
        raise TypeError(st)

    def _emit_action(self, st: Action, pred: Column, df_override=None):
        pred_name = self._fresh(f"act_{st.sink}")
        self._preds[pred_name] = pred
        out_name = out_expr = snap = None
        if st.template is not None:
            out_name = self._fresh(f"out_{st.sink}")
            out_expr = (
                st.template
                if isinstance(st.template, Column)
                else compile_template(st.template)
            )
            if self._need_snapshots:
                # pin the vars state at THIS statement position so a
                # later set/unset doesn't leak backwards into the
                # lazily-rendered template (ruleset.c sequential exec)
                snap = self._fresh("tplvars")
                self._preds[snap] = F.col(self._vars_col)
        col_snaps = None
        if out_expr is not None and self._col_mut:
            # same pinning for message columns a later mmtaghostname /
            # mmrfc5424addhmac / parse_success writer may overwrite
            col_snaps = {}
            for col in sorted(self._col_mut):
                sc = self._fresh(f"tplcol_{col}")
                self._preds[sc] = F.col(col)
                col_snaps[col] = sc
        self._actions.append(
            CompiledAction(
                st.sink, pred_name, out_name, out_expr, snap,
                self._vars_col, df_override, col_snaps,
            )
        )

    def _exec_block(
        self, stmts: list, path: Column, stopped: Column, calling: set
    ) -> Column:
        """Walk a statement list; returns the updated ``stopped`` column
        (disjunction of stop conditions reachable so far)."""
        memo: dict = {}  # path & ~stopped, built once per value of stopped

        def live() -> Column:
            if memo.get("stopped") is not stopped:
                memo.update(stopped=stopped, col=self._live(path, stopped))
            return memo["col"]

        for st in stmts:
            if isinstance(st, Continue):
                continue
            if isinstance(st, Action):
                # failover chains (action.c:1812-1815 + iExecIfPrevious
                # IsSuspended): an execonly action attempts only while
                # the previous action is suspended; a suspended action
                # delivers nothing; a skipped execonly action leaves the
                # previous state in place so longer chains compose
                # (A down, B down -> C fires).
                attempts = (
                    not st.exec_when_prev_suspended or self._prev_suspended
                )
                suspended = st.sink in self.suspended_sinks
                pred = live() if attempts and not suspended else self._false
                self._emit_action(st, pred)
                if attempts and suspended and st.errorfile:
                    # actionWriteErrorFile (action.c:1410-1466): one
                    # JSON line per failed event — action name, status
                    # (RS_RET_SUSPENDED -2007), rendered template
                    tpl = (
                        st.template
                        if isinstance(st.template, Column)
                        else (
                            compile_template(st.template)
                            if st.template is not None
                            else F.col("msg")
                        )
                    )
                    err_line = F.to_json(
                        F.struct(
                            F.lit(st.sink).alias("action"),
                            F.lit(-2007).alias("status"),
                            tpl.alias("template0"),
                        )
                    )
                    self._emit_action(Action(st.errorfile, err_line), live())
                if attempts:
                    self._prev_suspended = suspended
            elif isinstance(st, Stop):
                # everything on this path is stopped from here on
                stopped = path if stopped is self._false else stopped | path
            elif isinstance(st, (If, PriFilt, PropFilt)):
                cname = self._fresh("cond")
                self._conds[cname] = self._cond_of(st)
                c = F.col(cname)
                stopped = self._exec_block(
                    st.then, self._and(path, c), stopped, calling
                )
                if st.els:
                    stopped = self._exec_block(
                        st.els, self._and(path, ~c), stopped, calling
                    )
            elif type(st) in _FRAME_STMTS:
                # the rewrite reads the queued columns: add them first
                self._flush()
                getattr(self, _FRAME_STMTS[type(st)])(st, live())
            elif isinstance(st, Call):
                if st.ruleset in calling:
                    raise ValueError(f"recursive call to {st.ruleset}")
                stopped = self._exec_call(
                    self.rulesets[st.ruleset].stmts,
                    path, stopped, calling | {st.ruleset}, st.queued,
                )
            elif isinstance(st, CallIndirect):
                stopped = self._exec_call_indirect(st, path, stopped, calling)
            elif isinstance(st, Foreach):
                self._flush()
                self._exec_foreach(st, live(), calling)
            else:
                raise TypeError(f"unknown statement {st!r}")
        return stopped

    # -- set / unset -----------------------------------------------------
    def _apply_set(self, st: Set, active: Column):
        v = self._vars_col
        key = _var_key(st.name)
        cur = F.col(v)
        exists = F.map_contains_key(cur, F.lit(key))
        new_map = F.map_concat(
            F.map_filter(cur, lambda k, _: k != F.lit(key)),
            F.create_map(F.lit(key), st.expr.cast("string")),
        )
        if st.force_reset:
            updated = new_map
        else:
            # set does not overwrite existing (force_reset flag,
            # rainerscript.h:140)
            updated = F.when(exists, cur).otherwise(new_map)
        self._df = self._df.withColumn(
            v, F.when(active, updated).otherwise(cur)
        )

    def _apply_normalize(self, st: Normalize, active: Column):
        if st.use_rawmsg:
            src = F.col("rawmsg")
        elif st.variable:
            name = st.variable
            if name.startswith(("$!", "$.")):
                src = F.element_at(F.col(self._vars_col), _var_key(name))
            else:
                src = resolve_property(name.lstrip("$"))
        else:
            src = F.col("msg")
        # materialize the rule cascade ONCE into a scratch column —
        # referencing the expression inside the map_filter lambda would
        # inline (and re-evaluate) every rule regex per existing map
        # entry per row
        self._n += 1
        nc = f"_norm{self._n}"
        self._df = self._df.withColumn(
            nc,
            mods.rulebase_map_expr(
                F.coalesce(src, F.lit("")), st.rules, st.prefix
            ),
        )
        norm = F.col(nc)
        v = self._vars_col
        cur = F.col(v)
        # msgAddJSON merge: keys from the normalization result replace
        # same-named existing keys; everything else is kept
        merged = F.map_concat(
            F.map_filter(
                cur,
                lambda k, _: ~F.array_contains(F.map_keys(norm), k),
            ),
            norm,
        )
        self._df = self._df.withColumn(
            v, F.when(active, merged).otherwise(cur)
        ).drop(nc)
        # MsgSetParseSuccess(pMsg, 1): ln_normalize reports success
        # even for unmatched lines (they become the unparsed event)
        if "parse_success" in self._df.columns:
            self._df = self._df.withColumn(
                "parse_success",
                F.when(active, F.lit(True)).otherwise(
                    F.col("parse_success")
                ),
            )

    def _apply_mm(self, st, active: Column):
        # the routing path is the mods function's ``active`` gate
        fn, takes = _MM_ACTIONS[type(st)]
        state = {"localhostname": self.localhostname, "vars_col": self._vars_col}
        self._df = fn(self._df, **vars(st), **{k: state[k] for k in takes},
                      active=active)

    def _apply_unset(self, st: Unset, active: Column):
        v = self._vars_col
        key = _var_key(st.name)
        cur = F.col(v)
        self._df = self._df.withColumn(
            v,
            F.when(
                active, F.map_filter(cur, lambda k, _: k != F.lit(key))
            ).otherwise(cur),
        )

    # -- call forms ------------------------------------------------------
    def _exec_call(self, stmts, path, stopped, calling, queued) -> Column:
        if not queued:
            # inline composition (direct-call semantics): target stops
            # and sets flow back into the caller's continuation
            return self._exec_block(stmts, path, stopped, calling)
        # queued call = MsgDup + async queue (ruleset.c:283-302): the
        # target processes a COPY — its set/unset must not be visible to
        # the caller's later statements, and its stop must not stop the
        # caller. Save/restore the vars column around the block and
        # discard the block's stop state.
        self._flush()
        save = self._fresh("qsave")
        self._df = self._df.withColumn(save, F.col(self._vars_col))
        self._exec_block(
            stmts, self._live(path, stopped), self._false, calling
        )
        self._flush()
        self._df = self._df.withColumn(self._vars_col, F.col(save)).drop(save)
        return stopped

    def _exec_call_indirect(self, st: CallIndirect, path, stopped, calling) -> Column:
        """When-cascade over known ruleset names (the name space is
        closed at config time, exactly like rulesetGetRuleset's lookup
        in loadConf). Branches are mutually exclusive, so accumulating
        stop state sequentially is exact; an unmatched name is a NOP
        (ruleset.c:258-262)."""
        name_col = self._fresh("callind")
        self._conds[name_col] = st.expr.cast("string")
        for name in self.rulesets:
            if name in calling:
                continue
            branch = self._and(path, F.col(name_col) == F.lit(name))
            stopped = self._exec_call(
                self.rulesets[name].stmts, branch, stopped,
                calling | {name},
                # queue presence decided per TARGET at runtime in the
                # reference (rulesetHasQueue, ruleset.c:264-276)
                st.queued or (name in self.queued),
            )
        return stopped

    # -- foreach ---------------------------------------------------------
    def _exec_foreach(self, st: Foreach, active: Column, calling: set):
        """Explode the collection into per-element rows and compile the
        body against the exploded plane (execForeach ruleset.c:392-418).

        100 TB shape: ONE explode (row count multiplies by element
        count, never quadratic), body predicates are plain filters on
        the exploded frame, sink writes are per-element rows. The
        exploded frame branches off the CURRENT annotated state, so the
        caller's vars as of the loop are visible inside the body.

        DIVERGENCE (checked loudly): the body runs on the exploded
        plane and its frame is discarded after the loop, so a Set/Unset
        of a NON-loop var would not persist past the loop and a Stop
        would not stop the message — unlike execForeach, which mutates
        the real message. Configs relying on those reference semantics
        must fail at compile time, not silently differ (ADVICE r02).
        """
        key = _var_key(st.var)
        _check_foreach_body(st.body, st.var, self.rulesets)
        col = st.collection
        if st.mode == "array":
            items = F.transform(
                col, lambda x: F.struct(
                    F.lit(None).cast("string").alias("key"),
                    x.cast("string").alias("value"),
                )
            )
        elif st.mode == "object":
            items = F.transform(
                F.map_entries(col),
                lambda e: F.struct(
                    e["key"].cast("string").alias("key"),
                    e["value"].cast("string").alias("value"),
                ),
            )
        else:  # auto: runtime JSON type dispatch like execForeach
            as_obj = F.from_json(col, "map<string,string>")
            as_arr = F.from_json(col, "array<string>")
            items = F.when(
                as_obj.isNotNull(),
                F.transform(
                    F.map_entries(as_obj),
                    lambda e: F.struct(
                        e["key"].alias("key"), e["value"].alias("value")
                    ),
                ),
            ).otherwise(
                F.transform(
                    as_arr,
                    lambda x: F.struct(
                        F.lit(None).cast("string").alias("key"),
                        x.alias("value"),
                    ),
                )
            )

        base = self._df.filter(active)
        ex = base.withColumn("_fe_item", F.explode(items))
        is_obj = F.col("_fe_item.key").isNotNull()
        elem = F.when(
            is_obj,
            F.to_json(F.struct(
                F.col("_fe_item.key").alias("key"),
                F.col("_fe_item.value").alias("value"),
            )),
        ).otherwise(F.col("_fe_item.value"))
        # bind the loop variable into the vars map so every existing
        # resolver ($.VAR via element_at) works unchanged in the body
        # Remove ONLY the loop variable's own binding keys before
        # rebinding (execForeach overwrites just the iterator variable,
        # ruleset.c:400-413); a bare prefix match would also strip
        # unrelated vars that merely share the prefix (e.g. loop var
        # "$.e" vs caller var "$.env").
        binding = F.map_concat(
            F.map_filter(
                F.col(self._vars_col),
                lambda k, _: ~((k == key) | k.startswith(key + "!")),
            ),
            F.map_from_arrays(
                F.array(F.lit(key), F.lit(key + "!key"), F.lit(key + "!value")),
                F.array(
                    elem,
                    F.coalesce(F.col("_fe_item.key"), F.lit("")),
                    F.col("_fe_item.value"),
                ),
            ),
        )
        ex = ex.withColumn(self._vars_col, binding).drop("_fe_item")

        # compile the body on the exploded plane with a sub-compiler
        # sharing the action list + name counter
        outer_df, outer_actions_len = self._df, len(self._actions)
        self._df = ex
        self._exec_block(st.body, self._true, self._false, calling)
        self._flush()
        body_df = self._df
        # foreach-body actions carry the exploded frame
        for a in self._actions[outer_actions_len:]:
            if a.df is None:
                a.df = body_df
        self._df = outer_df
        # loop var deleted after the loop (msgDelJSON ruleset.c:413):
        # nothing to do — bindings only ever existed on the exploded
        # plane, the row plane's vars were never touched
