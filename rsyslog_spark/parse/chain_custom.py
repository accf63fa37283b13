"""Ruleset-scoped custom parser chains.

rsyslog binds parser chains per ruleset: ``ruleset(name="r"
parser=["custom.pmnull", "rsyslog.pmnull"])`` tries each named parser
instance in order and the FIRST one that accepts the message provides
tag/PRI/msg (ruleset.c rulesetProcessMsg -> parser.ParseMsg walk;
exercised by tests/pmnull-basic.sh / pmnull-withparams.sh).

This module compiles such a chain over a text column as one Spark
projection: every instance contributes an accept flag + field
expressions, folded right-to-left into first-accept ``when`` cascades —
the same shape as the default rfc5424->rfc3164 chain, but built from
config-declared instances.

Supported instance types: the field parsers ``pmciscoios``,
``pmnull``, ``pmdb2diag`` and ``pmnormalize`` (default instances
``rsyslog.ciscoios`` / ``rsyslog.pmnull`` / ``db2.diag``;
``rsyslog.pmnormalize`` resolves but needs a rulebase, so only
parser() objects are usable — pmnormalize.c:196-205), plus the contrib
REWRITERS
``pmcisconames`` / ``pmaixforwardedfrom`` / ``pmsnare`` /
``pmpanngfw`` (r4): those always decline the message (the reference
returns RS_RET_COULD_NOT_PARSE) but mutate the post-PRI raw in place,
so every LATER instance — and pmnull's full-raw MSG — sees the
rewritten text, exactly like the C memmove on pszRawMsg.
The rfc3164/rfc5424 builtins ARE the default chain
(``parse.with_parsed``) — mixing them into a custom chain is rejected
loudly rather than half-modeled (the reference allows it; modeling it
here would duplicate the default chain's full cascade per ruleset).
The rewrite-then-default-chain pairing the contrib modules exist for
is ``with_parsed(df.withColumn('text', fix_cisconames(...)))``.

PRI handling mirrors the reference's AutomaticPRIParsing contract:
pmciscoios is PRI-compatible, so it parses the post-PRI text and keeps
the PRI-parse facility/severity; pmnull overrides PRI with its
configured facility*8+severity and takes MSG from raw offset 0 — the
full line INCLUDING the "<pri>" prefix (pmnull.c:155-159; golden
``msg: <189>16261: ...``).

A message no instance accepts is a parse failure (``accepted`` false,
null fields) — the reference discards it with a parse-error message.
"""

from __future__ import annotations

from dataclasses import fields

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rsyslog_spark.parse.arrow_chain import parse_chain_arrow
from rsyslog_spark.parse.pm3164 import Pm3164Options
from rsyslog_spark.parse.pmcisco import parse_ciscoios
from rsyslog_spark.parse.pri import (
    facility_expr,
    severity_expr,
    with_pri,
)

_ON = {"on", "1", "yes", "true"}


def _pm3164_udf(opts: Pm3164Options):
    """One scalar Arrow UDF running the pmrfc3164 step with ``opts``;
    a struct of the fields the fold reads."""
    def run(after, fac, recv, fromhost, has_pri):
        o = parse_chain_arrow(after, fac, recv, fromhost, has_pri,
                              parsers=("rfc3164",), opts=opts)
        return pa.StructArray.from_arrays(
            [o["hostname"], o["syslogtag"], o["msg"], o["timereported"]],
            names=["hostname", "tag", "msg", "ts"],
        )

    return F.arrow_udf(
        run, "struct<hostname:string,tag:string,msg:string,ts:timestamp>"
    )


def build_custom_chain(
    df: DataFrame,
    instances: list[dict],
    text_col: str = "text",
    recv_ts_col: str = "ts",
) -> DataFrame:
    """Adds accepted / parser / syslogtag / pri / syslogfacility /
    syslogseverity / msg / timereported columns per the first-accept
    walk over ``instances`` (each: {'name', 'type', ...params})."""
    if not instances:
        raise ValueError("custom parser chain needs at least one instance")

    from rsyslog_spark.parse.contrib import rewriter

    out = with_pri(df, raw_col=text_col)
    # "<pri>" prefix, kept so rewriter-mutated raw can be reassembled
    # for pmnull's MSG-from-offset-0 (prefix + after == original text
    # when no rewriter fires)
    out = out.withColumn(
        "_pri_prefix",
        F.expr(
            f"substring({text_col}, 1, "
            f"length({text_col}) - length(rawmsg_after_pri))"
        ),
    )

    # one (accept, fields...) tuple per instance, in chain order
    branches = []
    null_s = F.lit(None).cast("string")
    null_t = F.lit(None).cast("timestamp")
    for idx, inst in enumerate(instances):
        ptype = inst.get("type")
        name = inst.get("name", f"parser{idx}")
        rw = rewriter(ptype, inst)
        if rw is not None:
            # contrib rewriter: declines the message but mutates the
            # post-PRI raw for every later instance (the C memmove)
            out = out.withColumn(
                "rawmsg_after_pri", rw(F.col("rawmsg_after_pri"))
            )
            continue
        if ptype == "pmnull":
            fac = int(inst.get("syslogfacility", 1))
            sev = int(inst.get("syslogseverity", 5))
            # snapshot the raw AT THIS chain position into a scratch
            # column: a rewriter LATER in the chain must not leak back
            # into this branch's MSG (final-select F.col references
            # would resolve against the post-rewrite state)
            out = out.withColumn(
                f"_cc{idx}_raw",
                F.concat(F.col("_pri_prefix"), F.col("rawmsg_after_pri")),
            )
            branches.append({
                "ok": F.lit(True),
                "parser": F.lit(name),
                "tag": F.lit(inst.get("tag", "")),
                "pri": F.lit(fac * 8 + sev).cast("int"),
                # full raw from offset 0, on the message state as of
                # this position (rewriters earlier in the chain seen,
                # later ones not)
                "msg": F.coalesce(F.col(f"_cc{idx}_raw"), F.lit("")),
                "ts": null_t,
            })
        elif ptype == "pmciscoios":
            pfx = f"_cc{idx}_"
            out = parse_ciscoios(
                out,
                text_col="rawmsg_after_pri",
                present_origin=str(
                    inst.get("present.origin", "off")
                ).lower() in _ON,
                present_xr=str(
                    inst.get("present.xr", "off")
                ).lower() in _ON,
                recv_ts_col=recv_ts_col,
                prefix=pfx,
            )
            branches.append({
                "ok": F.col(f"{pfx}ok"),
                "parser": F.lit(name),
                "tag": F.col(f"{pfx}tag"),
                "pri": F.col("pri"),  # PRI-compatible: keep parsed PRI
                "msg": F.col(f"{pfx}msg"),
                "ts": F.col(f"{pfx}ts"),
            })
        elif ptype == "pmdb2diag":
            from rsyslog_spark.parse.db2diag import parse_db2diag

            pfx = f"_cc{idx}_"
            out = out.withColumn(
                f"{pfx}raw", F.col("rawmsg_after_pri")
            )
            out = parse_db2diag(
                out,
                text_col="rawmsg_after_pri",
                levelpos=int(inst.get("levelpos", 59)),
                timepos=int(inst.get("timepos", 0)),
                timeformat=str(
                    inst.get("timeformat", "%Y-%m-%d-%H.%M.%S.")
                ),
                pid_shift=int(
                    inst.get("pidstarttoprogstartshift", 49)
                ),
                prefix=pfx,
            )
            branches.append({
                "ok": F.col(f"{pfx}ok"),
                "parser": F.lit(name),
                "tag": F.lit(""),      # db2diag never sets TAG
                # severity overrides the PRI-derived one when the
                # level word resolved (pMsg->iSeverity assignment)
                "pri": F.when(
                    F.col(f"{pfx}severity").isNotNull(),
                    (F.col("pri") - F.col("pri") % 8)
                    + F.col(f"{pfx}severity"),
                ).otherwise(F.col("pri")),
                "msg": F.col(f"{pfx}raw"),   # MSG offsets untouched
                "ts": F.col(f"{pfx}ts"),
                "appname": F.col(f"{pfx}appname"),
                "procid": F.col(f"{pfx}procid"),
            })
        elif ptype == "pmnormalize":
            # plugins/pmnormalize/pmnormalize.c: always-accept parser
            # (parse2 keeps RS_RET_OK even when ln_normalize fails) that
            # runs the liblognorm rulebase over the RAW message from
            # offset 0 (MsgSetMSGoffs(pMsg,0) + getRawMsg,
            # pmnormalize.c:224-240) and maps the result's TOP-LEVEL
            # keys through msgSetPropViaJSON (msg.c:4599-4674): only
            # well-known property names set message fields; unknown
            # names are silently ignored (msg.c:4663-4666). An
            # unmatched line yields the {originalmsg, unparsed-data}
            # event — both unknown names, so nothing changes and MSG
            # stays the full raw.
            out, br = _pmnormalize_branch(
                out, _pmnormalize_rules(inst), idx, name
            )
            branches.append(br)
        elif ptype in ("pmrfc3164", "rfc3164", "rsyslog.rfc3164"):
            # parser(type="pmrfc3164" ...) instance with the full
            # option set (tools/pmrfc3164.c:63-70; e2e goldens
            # pmrfc3164-AtSignsInHostname(_off)/-tagEndingByColon/
            # -msgFirstSpace/hostname-with-slash), option keys being
            # the field names with the first '_' as '.', e.g.
            # force.tagendingbycolon. ALWAYS accepts (parse2 never
            # returns COULD_NOT_PARSE) — instances after it in the
            # chain are dead, like the reference.
            opts = Pm3164Options(**{
                f.name: str(inst.get(
                    f.name.replace("_", ".", 1).replace("_", ""), "off"
                )).lower() in _ON
                for f in fields(Pm3164Options)
            })
            r = f"_cc{idx}_r"
            out = out.withColumn(r, _pm3164_udf(opts)(
                F.col("rawmsg_after_pri"),
                facility_expr(F.col("pri")),
                F.col(recv_ts_col),
                # no parsed hostname -> the received host (getHOSTNAME
                # falls back to rcvFrom); null without one, so the fold
                # keeps an input hostname
                F.col("fromhost") if "fromhost" in df.columns else null_s,
                F.col("_pri_prefix") != "",
            ))
            branches.append({
                "ok": F.lit(True),
                "parser": F.lit(name),
                "tag": F.col(r + ".tag"),
                "pri": F.col("pri"),
                "msg": F.col(r + ".msg"),
                "ts": F.col(r + ".ts"),
                "hostname": F.col(r + ".hostname"),
            })
        elif ptype in ("rfc5424", "rsyslog.rfc5424"):
            raise ValueError(
                f"{ptype}: the rfc5424 builtin is the default chain "
                "(parse.with_parsed); custom chains support "
                "pmrfc3164/pmciscoios/pmnull instances"
            )
        else:
            raise ValueError(f"unknown parser type {ptype!r}")

    # right-to-left first-accept fold
    sel = {
        "parser": null_s, "tag": null_s,
        "pri": F.lit(None).cast("int"),
        "msg": null_s, "ts": null_t,
        "appname": null_s, "procid": null_s,
        "hostname": null_s, "msgid": null_s, "sd": null_s,
        "fromhost": null_s, "fromhost_ip": null_s,
    }
    accepted = F.lit(False)
    for br in reversed(branches):
        for k in sel:
            # a branch that doesn't define a field SETS it null on
            # accept (that parser doesn't produce it) — it must not
            # leak a later branch's value through the fold
            sel[k] = F.when(
                br["ok"], br[k] if k in br else null_s
            ).otherwise(sel[k])
        accepted = br["ok"] | accepted

    out = (
        out.withColumn("accepted", accepted)
        .withColumn("parser", sel["parser"])
        .withColumn("syslogtag", sel["tag"])
        .withColumn("msg", sel["msg"])
        .withColumn("timereported", sel["ts"])
        .withColumn("pri", sel["pri"])
        .withColumn("syslogfacility", facility_expr(F.col("pri")))
        .withColumn("syslogseverity", severity_expr(F.col("pri")))
        .withColumn("app_name", sel["appname"])
        .withColumn("procid", sel["procid"])
    )
    # reception/parser-set properties a parser may SET but never CLEARS
    # (fromhost/fromhost-ip are reception-layer state, msg.c:4648-4655;
    # hostname defaults to the receiver's value when no parser sets
    # it): a branch value wins, otherwise any pre-existing input
    # column passes through untouched
    for out_col, key in (
        ("hostname", "hostname"), ("msgid", "msgid"),
        ("structured_data", "sd"), ("fromhost", "fromhost"),
        ("fromhost_ip", "fromhost_ip"),
    ):
        v = sel[key]
        if out_col in df.columns:
            v = F.coalesce(v, F.col(out_col))
        out = out.withColumn(out_col, v)
    # drop per-instance scratch columns
    scratch = [
        c for c in out.columns
        if c.startswith("_cc") or c in ("rawmsg_after_pri", "_pri_prefix")
    ]
    return out.drop(*scratch)


# The well-known property names msgSetPropViaJSON maps
# (runtime/msg.c:4612-4662) are exactly the keys _pmnormalize_branch
# reads: msg, syslogtag, pri, syslogfacility, syslogseverity, procid,
# msgid, structured-data, hostname (+ its documented alias "source",
# msg.c:4645), fromhost, fromhost-ip. Names outside that set are
# silently ignored, like the reference (msg.c:4663-4666) — enforcement
# is the branch only reading those keys, not a separate filter.
# Properties the reference maps but this engine does not model in a
# parser chain (raw replacement / $! subtree graft) — rejected at
# config time rather than silently diverging.
_PMNORM_UNSUPPORTED = {"rawmsg", "$!"}


def _pmnormalize_rules(inst: dict) -> list:
    """Validate a pmnormalize instance's params and compile its
    rulebase (pmnormalize.c:196-205: exactly one of rule=/rulebase=;
    rule= is an array of rulebase lines; rulebase= names a file loaded
    at activation, ln_loadSamples pmnormalize.c:124-137).
    ``undefinedPropertyError`` only changes reference-side logging, so
    it is accepted and ignored here."""
    from rsyslog_spark.mods import load_rulebase_text, parse_rulebase

    rule = inst.get("rule")
    rb_file = inst.get("rulebase")
    if (rule is None) == (rb_file is None):
        raise ValueError(
            "pmnormalize: parser instances need either parameter "
            "'rule' or 'rulebase', but not both (pmnormalize.c:196-205)"
        )
    text = load_rulebase_text(
        rule, rb_file, "pmnormalize",
        "ln_loadSamples, pmnormalize.c:131-136",
    )
    rules = parse_rulebase(text)
    for _rx, fields, consts in rules:
        for fname in [nm for nm, _t in fields] + [nm for nm, _v in consts]:
            if fname in _PMNORM_UNSUPPORTED:
                raise ValueError(
                    f"pmnormalize: rule field {fname!r} would rewrite "
                    "a property this engine does not model in a parser "
                    "chain (msgSetPropViaJSON, msg.c:4612-4662)"
                )
    return rules


def _pmnormalize_branch(out, rules: list, idx: int, name: str):
    """Compile one pmnormalize instance -> (df_with_scratch, branch).

    The raw is snapshotted AT THIS chain position (later rewriters must
    not leak back), the rulebase runs over it once, and each well-known
    result key maps to its message field. Numeric keys replicate
    json_object_get_int on liblognorm's string values: the leading
    digit run, 0 when non-numeric; pri clamps >191 to LOG_PRI_INVLD 199
    (msgSetPRI, msg.c:1609-1615), facility/severity apply their 0..24 /
    0..7 range gates (msg.c:4624-4635, out-of-range ignored). Fixed
    precedence pri -> facility -> severity (json iteration is rule
    field order; a rule putting pri AFTER an explicit severity would
    diverge — no reference fixture pins that, so the common order is
    modeled)."""
    from rsyslog_spark.mods import rulebase_map_expr

    raw_col = f"_cc{idx}_raw"
    norm_col = f"_cc{idx}_norm"
    out = out.withColumn(
        raw_col, F.concat(F.col("_pri_prefix"), F.col("rawmsg_after_pri"))
    )
    out = out.withColumn(
        norm_col,
        rulebase_map_expr(F.coalesce(F.col(raw_col), F.lit("")), rules),
    )
    m = F.col(norm_col)

    def got(key):
        return F.element_at(m, key)

    def num(key):
        # json_object_get_int on a string value: strtol prefix, 0 when
        # not numeric; only applied when the key is present at all
        v = got(key)
        return F.when(
            v.isNotNull(),
            F.coalesce(
                F.regexp_extract(v, r"^\s*(\d+)", 1).cast("int"),
                F.lit(0),
            ),
        )

    p_in = num("pri")
    p0 = F.coalesce(
        F.when(p_in > 191, F.lit(199)).otherwise(p_in), F.col("pri")
    )
    fac_in = num("syslogfacility")
    sev_in = num("syslogseverity")
    fac = F.coalesce(
        F.when((fac_in >= 0) & (fac_in <= 24), fac_in),
        F.floor(p0 / 8).cast("int"),
    )
    sev = F.coalesce(
        F.when((sev_in >= 0) & (sev_in <= 7), sev_in),
        (p0 % 8).cast("int"),
    )
    branch = {
        "ok": F.lit(True),
        "parser": F.lit(name),
        "tag": F.coalesce(got("syslogtag"), F.lit("")),
        "pri": (fac * 8 + sev).cast("int"),
        "msg": F.coalesce(got("msg"), F.col(raw_col), F.lit("")),
        "ts": F.lit(None).cast("timestamp"),
        "hostname": F.coalesce(got("hostname"), got("source")),
        "procid": got("procid"),
        "msgid": got("msgid"),
        "sd": got("structured-data"),
        "fromhost": got("fromhost"),
        "fromhost_ip": got("fromhost-ip"),
    }
    return out, branch
