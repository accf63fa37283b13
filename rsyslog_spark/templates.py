"""Template compiler: rsyslog templates -> ONE Column expression.

Reference: template.c (2433 LoC; text form ``%prop:fromPos:toPos:options%``
parsed around template.c:691-788), property rendering pipeline in
MsgGetProp (runtime/msg.c:3526 onward), built-in templates
runtime/rsconf.c:86-116 + strgen fast paths (tools/smtradfile.c:70-110,
tools/smfile.c).

A whole template compiles to a single ``concat(...)`` Column — Catalyst's
whole-stage codegen turns that into the same "one memcpy pass" the
reference's strgen modules hand-roll (SURVEY §4.2: strgen ≙ codegen).

Option pipeline order follows msg.c exactly (SURVEY §2.7 table):
field extraction (F,ch) -> regex (R,...) -> substring (fromPos/toPos) ->
sp-if-no-1st-sp -> case -> control chars -> secpath -> drop-last-lf ->
compressspace -> escaping (csv/json/jsonf) ; date-formats apply to
timestamp properties.
"""

from __future__ import annotations

import functools
import re

import pandas as pd

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from rsyslog_spark.schema import FACILITY_NAMES, SEVERITY_NAMES

# ---------------------------------------------------------------------------
# built-in templates (runtime/rsconf.c:86-116; registered :1246-1276)
# ---------------------------------------------------------------------------
BUILTIN_TEMPLATES = {
    # tools/smtradfile.c:70-110: TS3164 SP HOST SP TAG [SP] MSG LF
    "RSYSLOG_TraditionalFileFormat":
        "%TIMESTAMP% %HOSTNAME% %syslogtag%%msg:::sp-if-no-1st-sp%%msg:::drop-last-lf%\n",
    # tools/smfile.c (same, RFC3339 date)
    "RSYSLOG_FileFormat":
        "%TIMESTAMP:::date-rfc3339% %HOSTNAME% %syslogtag%%msg:::sp-if-no-1st-sp%%msg:::drop-last-lf%\n",
    # rsconf.c:89-92
    "RSYSLOG_SyslogProtocol23Format":
        "<%PRI%>1 %TIMESTAMP:::date-rfc3339% %HOSTNAME% %APP-NAME% "
        "%PROCID% %MSGID% %STRUCTURED-DATA% %msg%\n",
    "RSYSLOG_SyslogRFC5424Format":
        "<%PRI%>1 %TIMESTAMP:::date-rfc3339% %HOSTNAME% %APP-NAME% "
        "%PROCID% %MSGID% %STRUCTURED-DATA% %msg%",
    # tools/smfwd.c analogs
    "RSYSLOG_ForwardFormat":
        "<%PRI%>%TIMESTAMP:::date-rfc3339% %HOSTNAME% %syslogtag:1:32%"
        "%msg:::sp-if-no-1st-sp%%msg%",
    "RSYSLOG_TraditionalForwardFormat":
        "<%PRI%>%TIMESTAMP% %HOSTNAME% %syslogtag:1:32%"
        "%msg:::sp-if-no-1st-sp%%msg%",
    # rsconf.c:110
    "RSYSLOG_SysklogdFileFormat":
        "%TIMESTAMP% %HOSTNAME% %syslogtag%%msg:::sp-if-no-1st-sp%%msg%\n",
    # rsconf.c:111-114
    "RSYSLOG_StdJSONFmt":
        '{"message":"%msg:::json%","fromhost":"%HOSTNAME:::json%",'
        '"facility":"%syslogfacility-text%","priority":"%syslogpriority-text%",'
        '"timereported":"%timereported:::date-rfc3339%",'
        '"timegenerated":"%timegenerated:::date-rfc3339%"}',
}

_TS_PROPS = {"timestamp", "timereported", "timegenerated"}

# property name -> column name (propNameToID, runtime/msg.c:568-694)
_PROP_TO_COL = {
    "msg": "msg",
    "rawmsg": "rawmsg",
    "rawmsg-after-pri": "rawmsg_after_pri",
    "hostname": "hostname",
    "source": "hostname",
    "syslogtag": "syslogtag",
    "programname": "programname",
    "protocol-version": "protocol_version",
    "structured-data": "structured_data",
    "app-name": "app_name",
    "procid": "procid",
    "msgid": "msgid",
    "inputname": "inputname",
    "fromhost": "fromhost",
    "fromhost-ip": "fromhost_ip",
    "pri": "pri",
    "syslogfacility": "syslogfacility",
    "syslogseverity": "syslogseverity",
    "syslogpriority": "syslogseverity",  # alias, msg.c:600
    "timestamp": "timereported",
    "timereported": "timereported",
    "timegenerated": "timegenerated",
    "parsesuccess": "parse_success",
}


def _sev_text(col: Column) -> Column:
    arr = F.array(*[F.lit(s) for s in SEVERITY_NAMES])
    return F.element_at(arr, (col.cast("int") % 8) + 1)


def _fac_text(col: Column) -> Column:
    arr = F.array(*[F.lit(s) for s in FACILITY_NAMES])
    c = F.when(col.cast("int") > 23, F.lit(24)).otherwise(col.cast("int"))
    return F.element_at(arr, c + 1)


# Global variables `$/x` (PROP_GLOBAL_VAR, runtime/msg.c:685-686):
# daemon-level state in the reference. Supported READ-ONLY as a
# config-load-time mapping (the broadcast-state stance of SURVEY §1.3)
# — reads compile to literals, exactly like getenv(); writes are a
# config error (config.py rejects `set $/x`). An unset global reads as
# NULL, which the rs coercions turn into ''/0 like any unset var.
GLOBAL_VARS: dict = {}


def set_global_vars(mapping: dict | None) -> None:
    """Replace the process-level `$/` global-variable table."""
    GLOBAL_VARS.clear()
    if mapping:
        GLOBAL_VARS.update({str(k): str(v) for k, v in mapping.items()})


def var_key(name: str) -> str:
    """Variable reference -> flat-bag key.

    ``$!path`` (message tree) -> ``path``; ``$.path`` (LOCAL vars) ->
    ``.path`` — a distinct key namespace, mirroring the reference's
    separate json/localvars trees (runtime/msg.c:681-684: MSG_VAR vs
    LOCAL_VAR). Before r5 both spellings shared one key and silently
    aliased. ``$/g`` globals live in GLOBAL_VARS, not the bag."""
    if name.startswith("$."):
        return "." + name[2:]
    if name.startswith(("$!", "$/")):
        return name[2:]
    return name


def resolve_property(name: str) -> Column:
    """Property name -> Column over the parsed-message columns."""
    if name.startswith("$/") or (name.startswith("/") and len(name) > 1):
        key = name[2:] if name.startswith("$/") else name[1:]
        val = GLOBAL_VARS.get(key)
        return F.lit(val).cast("string")
    lname = name.lower()
    if lname in _PROP_TO_COL:
        return F.col(_PROP_TO_COL[lname])
    if lname == "pri-text":
        # textpri(): "facility.severity" (msg.c getPRIText semantics)
        return F.concat(
            _fac_text(F.col("syslogfacility")),
            F.lit("."),
            _sev_text(F.col("syslogseverity")),
        )
    if lname == "syslogseverity-text" or lname == "syslogpriority-text":
        return _sev_text(F.col("syslogseverity"))
    if lname == "syslogfacility-text":
        return _fac_text(F.col("syslogfacility"))
    if lname == "jsonmesg":
        # whole message object as JSON (msg.h:219)
        return F.to_json(F.struct(*[F.col(c) for c in _JSONMESG_COLS]))
    if lname == "uuid":
        return F.expr("uuid()")
    if name == "$!":
        # bare message-tree root: json-c render of non-local keys, ''
        # when empty (tests/rscript_bare_var_root.sh + -empty.sh)
        return render_vars_tree(F.col("vars"))
    if name == "$.":
        # bare LOCAL-vars root: the '.'-prefixed key namespace
        return render_vars_tree(F.col("vars"), scope="local")
    if name.startswith("!") and len(name) > 1:
        # %!x% — leaf value when the path IS a leaf, else the json-c
        # spaced subtree render (the reference's jsonVar returns the
        # node: scalar -> string, object -> json render;
        # tests/rscript_substring.sh golden '{ "var1": "", ... }')
        leaf = F.element_at(F.col("vars"), name[1:])
        return F.when(leaf.isNotNull(), leaf).otherwise(
            render_vars_tree(F.col("vars"), prefix=name[1:] + "!")
        )
    if name.startswith(".") and len(name) > 1:
        # %.x% — local-var leaf-or-subtree, same rule
        leaf = F.element_at(F.col("vars"), name)
        return F.when(leaf.isNotNull(), leaf).otherwise(
            render_vars_tree(F.col("vars"), prefix=name + "!")
        )
    if name.startswith(("$!", "$.")):
        # $! message tree and $. locals live in ONE map under distinct
        # key namespaces (locals '.'-prefixed) — r5, matching the
        # reference's separate trees (runtime/msg.c:681-684). Same
        # leaf-or-subtree rule as the bare-! spelling ($ is optional
        # in property names — tests/mmdb.sh renders %$!iplocation% as
        # the container OBJECT)
        key = var_key(name)
        leaf = F.element_at(F.col("vars"), key)
        return F.when(leaf.isNotNull(), leaf).otherwise(
            render_vars_tree(F.col("vars"), prefix=key + "!")
        )
    # system time properties (PROP_SYS_*, msg.c:755-793; formatting
    # getNOW msg.c:2996-3051). "Processing time" = timegenerated here
    # (deterministic per row — a wall clock would break golden tests and
    # distributed replay alike). Engine pins UTC, so the -utc variants
    # coincide (TIME_IN_LOCALTIME == UTC under our session tz).
    sysname = lname[1:] if lname.startswith("$") else lname
    _tg = F.col("timegenerated")
    _sys = {
        "now": lambda: F.date_format(_tg, "yyyy-MM-dd"),
        "year": lambda: F.date_format(_tg, "yyyy"),
        "month": lambda: F.date_format(_tg, "MM"),
        "day": lambda: F.date_format(_tg, "dd"),
        "hour": lambda: F.date_format(_tg, "HH"),
        "minute": lambda: F.date_format(_tg, "mm"),
        # half-hour / quarter-hour index within the hour, zero-padded
        "hhour": lambda: F.lpad(
            (F.minute(_tg) / 30).cast("int").cast("string"), 2, "0"
        ),
        "qhour": lambda: F.lpad(
            (F.minute(_tg) / 15).cast("int").cast("string"), 2, "0"
        ),
        # tm_wday: Sunday=0 (Spark dayofweek: Sunday=1)
        "wday": lambda: (F.dayofweek(_tg) - 1).cast("string"),
        "now-unixtimestamp": lambda: F.unix_timestamp(_tg).cast("string"),
    }
    base = sysname[:-4] if sysname.endswith("-utc") else sysname
    if base in _sys:
        return _sys[base]()
    # not an rsyslog message property: treat as a raw column of the
    # input table (the engine runs over arbitrary transcript schemas —
    # Spark's analyzer reports unknown columns with suggestions)
    return F.col(lname)


_JSONMESG_COLS = [
    "msg", "rawmsg", "hostname", "syslogtag", "programname", "pri",
    "syslogfacility", "syslogseverity", "timereported", "timegenerated",
]


# ---------------------------------------------------------------------------
# date formats (enum tplFormatTypes, template.h:62-68; rendering
# msg.c:3555-3566 via getTimeReported msg.c:1788)
# ---------------------------------------------------------------------------

def subtree_template(path: str, vars_col: str = "vars") -> Column:
    """template(type="subtree" subtree="$!x") — render a JSON subtree
    of the variable tree (template.c subtree type; tpl.subtree).

    The flat vars map stores containers either as a JSON text value
    under the key itself (the parse_json path) or as 'x!k' flat
    entries; the render prefers the stored JSON and falls back to
    re-nesting one level of flat keys. subtree="$!" renders the whole
    (flat) tree."""
    key = var_key(path) if path.startswith(("$!", "$.")) else path.lstrip("$")
    v = F.col(vars_col)
    if key in ("", "."):
        # whole-tree roots: $! excludes the '.'-prefixed local keys,
        # $. selects exactly those (stripped)
        if key == ".":
            scoped = F.transform_keys(
                F.map_filter(v, lambda k, _: k.startswith(".")),
                lambda k, _: F.substring(k, 2, 2**30),
            )
        else:
            scoped = F.map_filter(v, lambda k, _: ~k.startswith("."))
        return F.to_json(scoped)
    stored = F.element_at(v, F.lit(key))
    prefix = key + "!"
    sub = F.transform_keys(
        F.map_filter(v, lambda k, _: k.startswith(prefix)),
        lambda k, _: F.substring(k, len(prefix) + 1, 2**30),
    )
    return F.coalesce(
        stored,
        F.when(F.size(F.map_keys(sub)) > 0, F.to_json(sub)),
        F.lit(""),
    )


def format_timestamp(col: Column, fmt: str | None) -> Column:
    """Render a timestamp column per template date option. Default (no
    option) is the RFC3164 form (getTimeReported tplFmtDefault; the
    traditional strgen passes tplFmtRFC3164Date, smtradfile.c:72)."""
    if fmt is None or fmt == "date-rfc3164":
        return F.concat(
            F.date_format(col, "MMM"),
            F.lit(" "),
            F.lpad(F.dayofmonth(col).cast("string"), 2, " "),
            F.lit(" "),
            F.date_format(col, "HH:mm:ss"),
        )
    if fmt == "date-rfc3339":
        # engine pins UTC; fraction emitted when non-zero (micro precision)
        micros = F.date_format(col, "SSSSSS")
        return F.concat(
            F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss"),
            F.when(micros != "000000", F.concat(F.lit("."), micros)).otherwise(
                F.lit("")
            ),
            F.lit("+00:00"),
        )
    if fmt == "date-unixtimestamp":
        return F.unix_timestamp(col).cast("string")
    if fmt == "date-year":
        return F.date_format(col, "yyyy")
    if fmt == "date-month":
        return F.date_format(col, "MM")
    if fmt == "date-day":
        return F.date_format(col, "dd")
    if fmt == "date-hour":
        return F.date_format(col, "HH")
    if fmt == "date-minute":
        return F.date_format(col, "mm")
    if fmt == "date-second":
        return F.date_format(col, "ss")
    if fmt in ("date-mysql", "date-pgsql"):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    if fmt == "date-wdayname":
        return F.date_format(col, "EEE")
    raise ValueError(f"unknown date format {fmt!r}")


# ---------------------------------------------------------------------------
# escaping (msg.c:4550-4586; template.h:48-53)
# ---------------------------------------------------------------------------

def json_escape(col: Column) -> Column:
    """JSON string-body escaping (jsonEncode, template option 'json').
    Sanitize has already #NNN-escaped raw control chars, so backslash,
    quote, and the common whitespace escapes cover the domain."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return c


def csv_escape(col: Column) -> Column:
    """RFC4180 csv option (msg.c:4550): quote and double inner quotes."""
    return F.concat(F.lit('"'), F.replace(col, F.lit('"'), F.lit('""')), F.lit('"'))


def sql_escape(col: Column, std: bool = False) -> Column:
    """sql/stdsql template options (template.h:48-53): single-quote
    doubling; non-std MySQL mode also backslash-escapes backslash."""
    c = col
    if not std:
        c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    return F.replace(c, F.lit("'"), F.lit("''"))


# ---------------------------------------------------------------------------
# the compiler
# ---------------------------------------------------------------------------

_FIELD_RE = re.compile(r"%([^%]*)%")


def _apply_options(
    col: Column, prop: str, from_pos: str, to_pos: str, opts: list[str]
) -> Column:
    """Apply the per-FIELD option pipeline in msg.c order (§2.7)."""
    is_ts = prop.lower() in _TS_PROPS
    date_fmt = next((o for o in opts if o.startswith("date-")), None)
    if is_ts:
        col = format_timestamp(col, date_fmt)
    else:
        col = F.coalesce(col.cast("string"), F.lit(""))

    # stage 1: field extraction %prop:F,<delimcode>:n% (msg.c:3927)
    if from_pos.startswith("F"):
        delim = ","
        if "," in from_pos:
            delim = chr(int(from_pos.split(",", 1)[1]))
        n = int(to_pos)
        parts = F.split(col, re.escape(delim))
        col = F.coalesce(F.get(parts, n - 1), F.lit("**FIELD NOT FOUND**"))
    # stage 2: regex %prop:R,<regex>...% (msg.c:3990)
    elif from_pos.startswith("R"):
        # R,<flavor>,<submatch>,<nomatchact>,<match>:regex in to_pos —
        # the reference's subfield ORDER (template.c:845-930: type,
        # then submatch digit, then nomatch word, then match digit).
        # Flavor is accepted case-insensitively (the reference is
        # uppercase-strict with a LogError); match>0 (use the N-th
        # occurrence) is not modeled and rejected loudly.
        parts = from_pos.split(",")
        flavor = (parts[1] or "ERE").upper() if len(parts) > 1 else "ERE"
        submatch = int(parts[2]) if len(parts) > 2 and parts[2].isdigit() else 0
        nomatch = parts[3] if len(parts) > 3 and parts[3] else "DFLT"
        if len(parts) > 4 and parts[4].isdigit() and int(parts[4]) > 0:
            raise ValueError(
                "template regex match-ID > 0 (N-th occurrence) is not "
                "modeled; restructure the pattern"
            )
        rx = to_pos
        if flavor == "BRE":
            from rsyslog_spark.filters import bre_to_java

            rx = bre_to_java(rx)
        elif flavor != "ERE":
            raise ValueError(
                f"invalid regular expression type {flavor!r} "
                "(template.c:850-860: BRE/ERE)"
            )
        # regex.NomatchMode (template.c:1569-1585): DFLT -> the msg.c
        # "**NO MATCH**" marker, BLANK -> '', ZERO -> '0', FIELD ->
        # the whole unprocessed field
        fallback = {
            "DFLT": F.lit("**NO MATCH**"),
            "BLANK": F.lit(""),
            "ZERO": F.lit("0"),
            "FIELD": col,
        }.get(nomatch)
        if fallback is None:
            raise ValueError(f"invalid regex nomatch mode {nomatch!r}")
        col = F.coalesce(
            F.nullif(F.regexp_extract(col, rx, submatch), F.lit("")),
            fallback,
        )
    # stage 3: substring via fromPos/toPos, 1-based inclusive (msg.c:4120)
    elif from_pos:
        f0, t0 = int(from_pos), int(to_pos)
        col = F.substring(col, f0, t0 - f0 + 1)

    for o in opts:
        if o == "sp-if-no-1st-sp":
            # field renders as " " or "" ONLY (msg.c:4196)
            col = F.when(col.startswith(" "), F.lit("")).otherwise(F.lit(" "))
        elif o == "lowercase":
            col = F.lower(col)
        elif o == "uppercase":
            col = F.upper(col)
        elif o == "drop-cc":
            col = F.regexp_replace(col, "[\\x00-\\x1f\\x7f]", "")
        elif o == "space-cc":
            col = F.regexp_replace(col, "[\\x00-\\x1f\\x7f]", " ")
        elif o == "escape-cc":
            pass  # sanitize already escaped on receive (parser.c defaults)
        elif o == "secpath-drop":
            col = F.replace(col, F.lit("/"), F.lit(""))
        elif o == "secpath-replace":
            col = F.replace(col, F.lit("/"), F.lit("_"))
        elif o == "drop-last-lf":
            col = F.regexp_replace(col, "\\n$", "")
        elif o == "compressspace":
            col = F.regexp_replace(col, " +", " ")
        elif o == "csv":
            col = csv_escape(col)
        elif o == "json":
            col = json_escape(col)
        elif o == "sql":
            col = sql_escape(col, std=False)
        elif o == "stdsql":
            col = sql_escape(col, std=True)
        elif o.startswith("date-"):
            pass  # handled above
        elif o == "":
            pass
        else:
            raise ValueError(f"unsupported template option {o!r}")
    return col


class ListTemplate:
    """template(type="list") { constant(...) property(...) } — the
    modern template form (template.c pblkConstant/pblkProperty,
    :1380-1700). ``parts``: ('c', text) | ('p', params-dict).
    ``opts``: template-level option.json/sql/stdsql (template.c
    tplConstructFromStruct optTyp), applied to every property part."""

    def __init__(self, parts: list, opts: list | None = None):
        self.parts = parts
        self.opts = list(opts or ())


# property() param -> text-form option, where the mapping is 1:1
# (template.c's own constructor does the same folding into the legacy
# option pipeline)
_LIST_OPT = {
    ("caseconversion", "lower"): "lowercase",
    ("caseconversion", "upper"): "uppercase",
    ("controlcharacters", "escape"): "escape-cc",
    ("controlcharacters", "space"): "space-cc",
    ("controlcharacters", "drop"): "drop-cc",
    ("securepath", "drop"): "secpath-drop",
    ("securepath", "replace"): "secpath-replace",
    ("format", "csv"): "csv",
    ("format", "json"): "json",
}
_LIST_FLAG = {
    "droplastlf": "drop-last-lf",
    "spifno1stsp": "sp-if-no-1st-sp",
    "compressspace": "compressspace",
}
# accepted but no-op here: outname only matters for name=value formats;
# date.inutc is the engine's pinned state already (session tz = UTC)
_LIST_IGNORED = {"name", "outname", "date.inutc"}
_LIST_POSITIONAL = {
    "position.from", "position.to", "field.number", "field.delimiter",
    "regex.expression", "regex.type", "regex.nomatchmode",
    "regex.match", "regex.submatch", "dateformat",
}


def _compile_list_property(p: dict, extra_opts: list | None = None) -> Column:
    """One property(...) block -> Column via the SAME option pipeline
    as the text form (the reference folds both syntaxes into one
    struct, template.c:1467-1700)."""
    prop = p["name"]
    opts: list[str] = []
    from_pos, to_pos = "", ""
    for k, v in p.items():
        if k in _LIST_IGNORED or k in _LIST_POSITIONAL:
            continue
        if k == "format" and str(v).lower() in ("jsonf", "jsonfr"):
            continue  # handled after the option pipeline below
        if k in _LIST_FLAG:
            if str(v).lower() in ("on", "1"):
                opts.append(_LIST_FLAG[k])
            continue
        opt = _LIST_OPT.get((k, str(v).lower()))
        if opt is None:
            raise ValueError(
                f"unsupported list-template property param {k}={v!r}"
            )
        opts.append(opt)
    if "dateformat" in p:
        opts.append("date-" + str(p["dateformat"]))
    if "regex.expression" in p:
        from_pos = ",".join([
            "R",
            str(p.get("regex.type", "ERE")),
            str(p.get("regex.submatch", "0")),
            str(p.get("regex.nomatchmode", "DFLT")),
            str(p.get("regex.match", "0")),
        ])
        if str(p.get("regex.type", "ERE")) not in ("ERE", "BRE"):
            raise ValueError(
                f"invalid regex.type {p['regex.type']!r} for property"
            )
        to_pos = p["regex.expression"]
    elif "field.number" in p:
        from_pos = "F"
        if "field.delimiter" in p:
            from_pos = f"F,{int(p['field.delimiter'])}"
        to_pos = str(int(p["field.number"]))
    elif "position.from" in p or "position.to" in p:
        from_pos = str(int(p.get("position.from", 1)))
        # position.to defaults to end-of-field (template.c toPos 0 =
        # unset -> whole remainder)
        to_pos = str(int(p.get("position.to", 2**30)))
    opts.extend(extra_opts or ())
    col = resolve_property(prop)
    col = _apply_options(col, prop, from_pos, to_pos, opts)
    if str(p.get("format", "")).lower() in ("jsonf", "jsonfr"):
        # field format jsonf (template.c F_JSONF -> msg.c jsonField):
        # '"<outname>":' + value, where an all-digit value renders as a
        # bare number (dataType AUTO, msg.c:3439-3450) and anything
        # else as a JSON-escaped quoted string
        name_out = str(p.get("outname", prop))
        body = F.coalesce(col.cast("string"), F.lit(""))
        quoted = F.concat(F.lit('"'), json_escape(body), F.lit('"'))
        val = F.when(
            (body != "") & body.rlike("^[0-9]+$"), body
        ).otherwise(quoted)
        nm = name_out.replace("\\", "\\\\").replace('"', '\\"')
        return F.concat(F.lit(f'"{nm}":'), val)
    return col


def compile_list_template(spec: ListTemplate) -> Column:
    jsonf_frame = "jsonf" in spec.opts
    extra = [o for o in spec.opts if o != "jsonf"]
    parts: list[Column] = []
    for kind, payload in spec.parts:
        if kind == "c":
            parts.append(F.lit(payload))
        else:
            parts.append(_compile_list_property(payload, extra))
    if not parts:
        return F.lit("")
    if jsonf_frame:
        # option.jsonf (template.c:190-240): '{' + parts joined ", "
        # (a zero-length part emits no separator) + '}\n'
        return F.concat(
            F.lit("{"),
            F.concat_ws(
                ", ", *[F.nullif(c, F.lit("")) for c in parts]
            ),
            F.lit("}\n"),
        )
    return F.concat(*parts)


def compile_template(spec) -> Column:
    """Compile a template (text form, list form, or builtin name) to
    ONE Column.

    ``spec`` may be a builtin name ('RSYSLOG_TraditionalFileFormat'), a
    template string with %prop:from:to:options% fields, or a
    ListTemplate from the config frontend.

    A text or builtin spec is built once per py4j gateway and `$/` table
    (as tplProcessCnf binds it at load); a spec that raises is not cached.
    """
    if isinstance(spec, ListTemplate):
        return compile_list_template(spec)
    return _compile_text(
        spec, tuple(sorted(GLOBAL_VARS.items())), SparkContext._gateway
    )


@functools.cache
def _compile_text(spec: str, _globals: tuple, _gateway) -> Column:
    # cache keys after ``spec``: resolve_property reads GLOBAL_VARS
    if spec in BUILTIN_TEMPLATES:
        spec = BUILTIN_TEMPLATES[spec]
    if spec.startswith("__subtree__"):
        # config frontend marker for template(type="subtree" ...)
        return subtree_template(spec[len("__subtree__"):])
    parts: list[Column] = []
    toggle_field = False
    for seg in spec.split("%"):
        if toggle_field:
            bits = seg.split(":")
            prop = bits[0]
            from_pos = bits[1] if len(bits) > 1 else ""
            to_pos = bits[2] if len(bits) > 2 else ""
            # doOptions lowercases every option char (template.c:676),
            # so %msg:::compressSPACE% == compressspace
            opts = (
                [o.lower() for o in bits[3].split(",")]
                if len(bits) > 3 else []
            )
            col = resolve_property(prop)
            parts.append(_apply_options(col, prop, from_pos, to_pos, opts))
        elif seg:
            parts.append(F.lit(seg))
        toggle_field = not toggle_field
    if not parts:
        return F.lit("")
    return F.concat(*parts)


# -- $! tree rendering + fmunflatten ----------------------------------------
# The flat vars bag renders to the reference's json-c SPACED form
# ('{ "k": "v" }') by re-nesting '!' flat keys. Since r5 the $. local
# vars occupy a distinct '.'-prefixed key namespace (matching the
# reference's separate trees, runtime/msg.c:681-684), so a bare-$!
# render excludes locals and vice versa.


def _jsonc_escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\").replace('"', '\\"')
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    )


_NUM_RE = re.compile(r"-?[0-9]+$")


def _jsonc_render(node) -> str:
    """json-c JSON_C_TO_STRING_SPACED (the fixtures' '{ "k": v }'
    form). Digit-run leaves render as bare numbers — the stringly
    typed bag's analog of the number type the reference tree keeps."""
    if isinstance(node, dict):
        if not node:
            return "{ }"
        inner = ", ".join(
            f'"{_jsonc_escape(k)}": {_jsonc_render(v)}'
            for k, v in node.items()
        )
        return "{ " + inner + " }"
    s = "" if node is None else str(node)
    if _NUM_RE.fullmatch(s):
        return s
    return '"' + _jsonc_escape(s) + '"'


def _nest_into(dst: dict, segs: list, value) -> None:
    """Navigate/create path segs in dst; final node overrides any
    existing value, an intermediate non-object is replaced by an
    object (fmunflatten.c's conflict warnings)."""
    cur = dst
    for i, sg in enumerate(segs):
        if i == len(segs) - 1:
            cur[sg] = value
        else:
            nxt = cur.get(sg)
            if not isinstance(nxt, dict):
                nxt = {}
                cur[sg] = nxt
            cur = nxt


def _flat_to_tree(d: dict) -> dict:
    """'!'-flat bag -> nested tree (insertion order preserved)."""
    tree: dict = {}
    for k, v in (d or {}).items():
        _nest_into(tree, k.split("!"), v)
    return tree


def _unflatten_node(src: dict, sep: str) -> dict:
    """fmunflatten walk (fmunflatten.c:56-151): every key name splits
    on sep (segments truncated at 255 chars — the C's 256-byte
    buffer); object values recurse first."""
    out: dict = {}
    for k, v in src.items():
        v2 = _unflatten_node(v, sep) if isinstance(v, dict) else v
        segs = [s[:255] for s in k.split(sep)]
        _nest_into(out, segs, v2)
    return out


def _vis(d: dict | None) -> dict:
    """Drop engine-internal __-prefixed keys (script_error snapshots)
    from tree renders — in both the message tree and the '.'-prefixed
    local namespace."""
    return {
        k: v
        for k, v in (d or {}).items()
        if not k.lstrip(".").startswith("__")
    }


def render_vars_tree(
    vars_col: Column, prefix: str = "", scope: str = "msg"
) -> Column:
    """Bare `%$!%` / `$!` (or a `%!x%` subtree via ``prefix``='x!') —
    json-c spaced render of the re-nested tree; empty tree -> ''
    (tests/rscript_bare_var_root.sh + -empty.sh, rscript_substring.sh
    goldens). ``scope``='local' renders the `$.` namespace instead
    (the '.'-prefixed keys, stripped)."""

    def _pick(d: dict) -> dict:
        d = _vis(d)
        if prefix:
            n = len(prefix)
            return {k[n:]: v for k, v in d.items() if k.startswith(prefix)}
        if scope == "local":
            return {k[1:]: v for k, v in d.items() if k.startswith(".")}
        return {k: v for k, v in d.items() if not k.startswith(".")}

    def _render(maps: pd.Series) -> pd.Series:
        return maps.map(
            lambda d: _jsonc_render(_flat_to_tree(_pick(d)))
            if _pick(d) else ""
        )

    return F.pandas_udf(_render, "string")(vars_col)


def unflatten_expr(
    vars_col: Column, sep: str, scope: str = "msg"
) -> Column:
    """unflatten($!, sep) (contrib/fmunflatten): re-nest the tree,
    then split every key name on the 1-char separator. Returns NULL
    for an empty bag (arg1 'unsuitable' — the caller maps that to
    script_error=1 and the number-0 result the fixtures pin).
    ``scope``='local' operates on the `$.` namespace."""

    def _pick(d: dict) -> dict:
        d = _vis(d)
        if scope == "local":
            return {k[1:]: v for k, v in d.items() if k.startswith(".")}
        return {k: v for k, v in d.items() if not k.startswith(".")}

    def _unf(maps: pd.Series) -> pd.Series:
        return maps.map(
            lambda d: _jsonc_render(
                _unflatten_node(_flat_to_tree(_pick(d)), sep)
            )
            if _pick(d) else None
        )

    return F.pandas_udf(_unf, "string")(vars_col)
