"""mmexternal — message modification via an external program
(plugins/mmexternal/mmexternal.c, 610 LoC + plugins/external/INTERFACE.md).

The reference forks the configured binary once per worker instance and
speaks a line protocol over stdin/stdout: one input line per message
(``interface.input`` selects MSG / RAWMSG / the full-JSON projection
msgGetJSONMESG builds, runtime/msg.c:2350-2436), one LF-terminated JSON
reply line whose properties are applied via MsgSetPropsViaJSON
(runtime/msg.c:4599-4674). ``{}`` means "no update".

Spark-first shape: ONE child process per partition inside
``mapInPandas`` — the exact analog of the reference's
worker-instance-owns-a-child model (wrkrInstanceData holds the pid,
mmexternal.c:67-78); parallelism is the partition count. The per-message
synchronous write→read round trip is the reference's own protocol
(callExtProg → processProgramReply, :435-493 — it never pipelines), so
throughput parity holds per worker. The child is spawned lazily on the
first row a partition actually processes (doAction :508-512
``bIsRunning`` check) and restarted once on EPIPE (:464-470); when the
program cannot be talked to, the reply is faked as ``{}`` so the
message passes unmodified (processProgramReply :216-240 emergency
paths).
"""

from __future__ import annotations

import json
import os
import re
import shlex
import subprocess

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "mm_external",
    "msg_set_props_via_json",
    "json_get_int",
    "om_prog",
]


# --------------------------------------------------------------------------
# MsgSetPropsViaJSON (runtime/msg.c:4599-4746) as a row-dict transform
# --------------------------------------------------------------------------

# well-known property name -> engine column (msgSetPropViaJSON's strcmp
# chain, msg.c:4612-4656). "source" is the documented hostname alias
# (:4646). fromhost / fromhost-ip map to columns this engine's frames
# usually lack — like every name here they apply only when the column
# exists (our frame models a subset of the msg object).
_WELLKNOWN_STR = {
    "rawmsg": "rawmsg",
    "msg": "msg",
    "syslogtag": "syslogtag",
    "procid": "procid",
    "msgid": "msgid",
    "structured-data": "structured_data",
    "hostname": "hostname",
    "source": "hostname",
    "fromhost": "fromhost",
    "fromhost-ip": "fromhost_ip",
}

_PROGNAME_RE = None  # lazily imported (parse.chain) to avoid a cycle


def json_get_int(v) -> int:
    """json-c ``json_object_get_int`` semantics for a parsed JSON value:
    ints pass, doubles truncate toward zero, bools are 0/1, strings go
    through a strtol-style walk (leading whitespace, optional sign,
    digit run; 0 when none), everything else is 0."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return int(v)
    if isinstance(v, str):
        m = re.match(r"\s*([+-]?\d+)", v)
        return int(m.group(1)) if m else 0
    return 0


def _to_bag_string(v) -> str:
    """Scalar JSON value -> the string form our map<string,string> bag
    stores (matching Spark's from_json map<string,string> coercions the
    other $!-writing mods use: true/false literals, numbers as
    written)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return json.dumps(v)
    return str(v)


def _flatten_tree(obj: dict, prefix: str, out: dict) -> None:
    """Flatten a $!-subtree object into ``a!b`` keys (the bag's flat
    convention, e.g. mmaudit's ``audit!hdr!auditid``). Arrays and other
    non-object containers are stored as JSON text under their key, the
    same containers-as-JSON-text convention parse_json uses; nulls are
    dropped (the bag has no null)."""
    for k, v in obj.items():
        key = prefix + k if not prefix else prefix + "!" + k
        if isinstance(v, dict):
            _flatten_tree(v, key, out)
        elif v is None:
            continue
        elif isinstance(v, list):
            out[key] = json.dumps(v, separators=(",", ":"))
        else:
            out[key] = _to_bag_string(v)


def msg_set_props_via_json(
    row: dict, reply: str, vars_col: str = "vars"
) -> dict:
    """Apply one reply line to a row dict (MsgSetPropsViaJSON,
    msg.c:4686-4746 + the per-key msgSetPropViaJSON walk :4599-4674).

    - ``{}`` is the documented no-update shortcut (:4697);
    - an unparseable / non-object reply updates nothing
      (RS_RET_JSON_UNUSABLE — the reference logs and keeps the message);
    - keys apply in reply order (json_object iteration); unknown names
      are silently ignored (:4665-4667);
    - ``pri`` runs msgSetPRI (clamp >191 to LOG_PRI_INVLD 199, then
      facility = pri>>3 / severity = pri&7, msg.c:73 + pri2fac/sev);
      ``syslogfacility`` / ``syslogseverity`` apply their 0..24 / 0..7
      range gates (:4624-4635, out-of-range ignored); the engine's
      ``pri`` column is kept = facility*8 + severity throughout (the
      reference derives pri from the pair on demand);
    - ``$!`` merges the object into the flat bag with jsonMerge
      top-level-replace semantics (msgAddJSON at root, msg.c: each
      top-level key replaces the same-named subtree, others kept);
    - a ``syslogtag`` set re-derives ``programname`` eagerly (the
      reference's lazy cache would re-derive on next query in the
      common case — same call-note as mods.mm_snmptrapd).
    """
    if reply == "{}":
        return row
    try:
        obj = json.loads(reply)
    except ValueError:
        return row
    if not isinstance(obj, dict):
        return row
    for name, val in obj.items():
        if name == "pri":
            pri = json_get_int(val)
            if pri > 191:
                pri = 199
            if "syslogfacility" in row:
                row["syslogfacility"] = pri >> 3
            if "syslogseverity" in row:
                row["syslogseverity"] = pri & 7
            if "pri" in row:
                row["pri"] = pri
        elif name == "syslogfacility":
            v = json_get_int(val)
            if 0 <= v <= 24 and "syslogfacility" in row:
                row["syslogfacility"] = v
                if "pri" in row and "syslogseverity" in row:
                    row["pri"] = v * 8 + (row["syslogseverity"] or 0)
        elif name == "syslogseverity":
            v = json_get_int(val)
            if 0 <= v <= 7 and "syslogseverity" in row:
                row["syslogseverity"] = v
                if "pri" in row and "syslogfacility" in row:
                    row["pri"] = (row["syslogfacility"] or 0) * 8 + v
        elif name == "$!":
            if isinstance(val, dict) and vars_col in row:
                bag = dict(row[vars_col] or {})
                for k, sub in val.items():
                    for bk in [
                        x for x in bag
                        if x == k or x.startswith(k + "!")
                    ]:
                        del bag[bk]
                    if isinstance(sub, dict):
                        _flatten_tree(sub, k, bag)
                    elif sub is None:
                        pass
                    elif isinstance(sub, list):
                        bag[k] = json.dumps(sub, separators=(",", ":"))
                    else:
                        bag[k] = _to_bag_string(sub)
                row[vars_col] = bag
        elif name in _WELLKNOWN_STR:
            col = _WELLKNOWN_STR[name]
            if col in row:
                row[col] = (
                    _to_bag_string(val)
                    if not isinstance(val, str)
                    else val
                )
                if name == "syslogtag" and "programname" in row:
                    global _PROGNAME_RE
                    if _PROGNAME_RE is None:
                        from rsyslog_spark.parse.chain import (
                            _PROGNAME_RE as _p,
                        )
                        _PROGNAME_RE = _p
                    m = re.match(_PROGNAME_RE, row[col])
                    row["programname"] = m.group(1) if m else ""
        # else: unknown property ignored (msg.c:4665-4667)
    return row


# --------------------------------------------------------------------------
# fulljson input projection (msgGetJSONMESG, msg.c:2350-2436)
# --------------------------------------------------------------------------

# msgGetJSONMESG key -> engine column. All numeric fields are emitted
# as STRINGS exactly like the C (json_object_new_string(getPRI) etc.).
_FULLJSON_KEYS = [
    ("msg", "msg"),
    ("rawmsg", "rawmsg"),
    ("timereported", "timereported"),
    ("hostname", "hostname"),
    ("syslogtag", "syslogtag"),
    ("fromhost", "fromhost"),
    ("fromhost-ip", "fromhost_ip"),
    ("pri", "pri"),
    ("syslogfacility", "syslogfacility"),
    ("syslogseverity", "syslogseverity"),
    ("programname", "programname"),
    ("protocol-version", "protocol_version"),
    ("structured-data", "structured_data"),
    ("app-name", "app_name"),
    ("procid", "procid"),
    ("msgid", "msgid"),
]


def _fulljson_line(row: dict, vars_col: str) -> str:
    """One msgGetJSONMESG projection line from the columns the frame
    has (the reference emits every key; ours emits the modeled subset
    — absent columns are absent keys). The ``$!`` tree is the bag
    unflattened one level-per-'!' like the reference's real tree."""
    out: dict = {}
    for key, col in _FULLJSON_KEYS:
        if col not in row:
            continue
        v = row[col]
        if v is None:
            v = ""
        if key == "timereported" and not isinstance(v, str):
            v = v.strftime("%Y-%m-%dT%H:%M:%S+00:00")
        out[key] = v if isinstance(v, str) else str(v)
    tree: dict = {}
    for k, v in (row.get(vars_col) or {}).items():
        node = tree
        parts = k.split("!")
        for p in parts[:-1]:
            node = node.setdefault(p, {})
            if not isinstance(node, dict):  # scalar/obj clash: keep obj
                break
        else:
            node[parts[-1]] = v
    out["$!"] = tree
    return json.dumps(out, separators=(",", ":"))


# --------------------------------------------------------------------------
# the operator
# --------------------------------------------------------------------------


def mm_external(
    df: DataFrame,
    binary: str,
    interface_input: str = "msg",
    output: str | None = None,
    force_single_instance: bool = False,
    vars_col: str = "vars",
    active: Column | None = None,
) -> DataFrame:
    """action(type="mmexternal" binary=... interface.input=...):
    modify messages through an external program (mmexternal.c).

    ``binary`` is split into argv like split_binary_parameters
    (space-separated with shell-style quoting — shlex covers the same
    forms). ``interface_input``: "msg" | "rawmsg" | "fulljson"
    (invalid values are a config error, RS_RET_INVLD_INTERFACE_INPUT,
    mmexternal.c:559-571). ``output`` names a per-worker debug file
    that receives each raw reply (writeOutputDebug :173-199 — in the
    reference it is per child process; here per partition, appended).
    ``forcesingleinstance="on"`` coalesces to ONE partition = one child
    (the reference serializes doAction on a mutex, :507-521) — a
    deliberate scale bottleneck, exactly like the original.

    ``active`` is the routing-path gate: rows where it is not true are
    passed through without touching the child (doAction only sees
    messages on the action's path). It rides to the worker as a
    scratch column that is dropped from the result.

    Embedded LFs in the input would desync the line protocol in the
    reference too (callExtProg writes msg + '\\n' blindly); the parse
    chain's sanitize stage guarantees none reach this point.
    """
    if interface_input not in ("msg", "rawmsg", "fulljson"):
        raise ValueError(
            "mmexternal: invalid interface.input parameter "
            f"{interface_input!r} (mmexternal.c:559-571)"
        )
    argv = shlex.split(binary)
    if not argv:
        raise ValueError("mmexternal: empty binary parameter")
    if vars_col not in df.columns:
        df = df.withColumn(
            vars_col,
            F.map_from_arrays(
                F.array().cast("array<string>"),
                F.array().cast("array<string>"),
            ),
        )
    gated = active is not None
    ac = "_mmexternal_active"
    if gated:
        df = df.withColumn(ac, active)
    if force_single_instance:
        df = df.coalesce(1)
    schema = df.schema
    col_names = [f.name for f in schema.fields]
    mode = interface_input

    def _proc(batches):
        import pandas as pd

        child = None

        def spawn():
            return subprocess.Popen(
                argv,
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL,
                text=True,
                bufsize=1,
            )

        outfd = None

        def one_line(line: str) -> str:
            """write one input line, read one reply line; EPIPE ->
            one restart + rewrite (callExtProg :464-477); any other
            failure fakes '{}' (processProgramReply :216-240)."""
            nonlocal child
            for attempt in (0, 1):
                if child is None or child.poll() is not None:
                    try:
                        child = spawn()
                    except OSError:
                        return "{}"
                try:
                    child.stdin.write(line + "\n")
                    child.stdin.flush()
                    reply = child.stdout.readline()
                    if reply == "":  # EOF = child died
                        raise BrokenPipeError
                    return reply.rstrip("\n")
                except (BrokenPipeError, OSError):
                    try:
                        child.kill()
                    except OSError:
                        pass
                    child = None
            return "{}"

        try:
            for pdf in batches:
                rows = pdf.to_dict("records")
                for row in rows:
                    if gated and not row.get(ac):
                        continue
                    if mode == "msg":
                        line = row.get("msg") or ""
                    elif mode == "rawmsg":
                        line = row.get("rawmsg") or ""
                    else:
                        line = _fulljson_line(row, vars_col)
                    reply = one_line(line)
                    if outfd is not None or output:
                        if outfd is None:
                            outfd = open(output, "a")
                        outfd.write(reply + "\n")
                    msg_set_props_via_json(row, reply, vars_col)
                yield pd.DataFrame(rows, columns=col_names)
        finally:
            if child is not None:
                try:
                    child.stdin.close()
                    child.wait(timeout=5)
                except (OSError, subprocess.TimeoutExpired):
                    child.kill()
            if outfd is not None:
                outfd.close()

    out = df.mapInPandas(_proc, schema=schema)
    return out.drop(ac) if gated else out


# --------------------------------------------------------------------------
# omprog (plugins/omprog/omprog.c, 1282 LoC) — program-as-sink
# --------------------------------------------------------------------------


def _line_to_status(line: str) -> str:
    """lineToStatusCode (omprog.c:428-453): leading '.' keep-alive dots
    stripped; OK / DEFER_COMMIT / PREVIOUS_COMMITTED map to their
    RS_RET codes; anything else is a recoverable error (SUSPENDED)."""
    line = line.lstrip(".")
    if line == "OK":
        return "ok"
    if line == "DEFER_COMMIT":
        return "defer_commit"
    if line == "PREVIOUS_COMMITTED":
        return "previous_committed"
    return "error:" + line


def om_prog(
    df: DataFrame,
    line_col: str,
    binary: str,
    confirm_messages: bool = False,
    use_transactions: bool = False,
    begin_mark: str = "BEGIN TRANSACTION",
    commit_mark: str = "COMMIT TRANSACTION",
    resume_retry_count: int = 0,
    output: str | None = None,
    force_single_instance: bool = False,
    status_col: str = "prog_status",
) -> DataFrame:
    """omprog: pipe rendered sink lines through an external program
    (plugins/omprog/omprog.c + plugins/external/INTERFACE.md).

    One child per partition (the reference's worker-instance model;
    ``forcesingleinstance`` coalesces to one partition = the single
    mutex-guarded child, omprog.c:507-521). Returns the input frame
    plus ``status_col`` — the per-message delivery outcome, the batch
    analog of the per-message RS_RET codes the action layer consumes:

    - confirm_messages=False: "ok" once the line is written (the
      reference treats write success as OK; replies are never read,
      the child's stdout goes to ``output`` or is discarded,
      :174-199);
    - confirm_messages=True: the child must confirm startup with OK
      before the first line (startChild :567-586; a failed startup
      marks every row of the partition "error:<line>" — the
      reference's suspend+retry), then each line's reply maps via
      lineToStatusCode (:428-453). An error reply re-sends the SAME
      message up to ``resume_retry_count`` times (the action layer's
      action.resumeRetryCount loop — tests/omprog-feedback.sh pins
      fail-twice-then-OK recovery);
    - use_transactions=True: each PARTITION is one transaction bracket
      — begin mark, lines, commit mark (beginTransaction/doAction/
      endTransaction, :966-1046; the reference's bracket is the queue
      batch, ours is the partition — same all-or-nothing contract,
      boundaries are explicitly nondeterministic in the reference
      too, see tests/omprog-transactions.sh "transaction boundaries
      are not deterministic"). With confirms on, in-transaction lines
      answer DEFER_COMMIT; a confirmed commit mark resolves them to
      "ok", a failed commit to "error:commit:<line>". Without
      confirms, doAction's DEFER_COMMIT is implicit (:1014-1016) and
      rows report "ok" after the bracket closes.

    Messages must be LF-terminated on the wire; the rendered line is
    sent + '\\n' exactly like doAction appends one when the template
    lacks it (:997-1006).
    """
    argv = shlex.split(binary)
    if not argv:
        raise ValueError("omprog: empty binary parameter")
    if force_single_instance:
        df = df.coalesce(1)
    in_schema = df.schema
    col_names = [f.name for f in in_schema.fields]
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(in_schema.fields) + [StructField(status_col, StringType())]
    )

    def _proc(batches):
        import pandas as pd

        child = None
        startup_err = None

        def spawn():
            return subprocess.Popen(
                argv,
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE
                if confirm_messages
                else (
                    open(output, "a")
                    if output
                    else subprocess.DEVNULL
                ),
                stderr=subprocess.DEVNULL,
                text=True,
                bufsize=1,
            )

        def read_status() -> str:
            reply = child.stdout.readline()
            if reply == "":
                raise BrokenPipeError
            return _line_to_status(reply.rstrip("\n"))

        def send(line: str) -> None:
            child.stdin.write(line + "\n")
            child.stdin.flush()

        pending = []  # batches not yielded yet, in input order
        deferred: list[dict] = []

        def frame(rows):
            return pd.DataFrame(rows, columns=col_names + [status_col])

        def flush_bracket(ok: bool, err: str) -> None:
            for r in deferred:
                r[status_col] = "ok" if ok else "error:commit:" + err
            deferred.clear()

        try:
            try:
                child = spawn()
                if confirm_messages:
                    st = read_status()
                    if st != "ok":
                        startup_err = st
            except (OSError, BrokenPipeError):
                startup_err = "error:could not start program"
            in_tx = False
            for pdf in batches:
                rows = pdf.to_dict("records")
                for row in rows:
                    if startup_err is not None:
                        row[status_col] = (
                            startup_err
                            if startup_err.startswith("error")
                            else "error:" + startup_err
                        )
                        continue
                    try:
                        if use_transactions and not in_tx:
                            send(begin_mark)
                            if confirm_messages:
                                read_status()
                            in_tx = True
                        line = row.get(line_col) or ""
                        attempts = 0
                        while True:
                            send(line)
                            if not confirm_messages:
                                st = "ok"
                                break
                            st = read_status()
                            if (
                                st.startswith("error")
                                and attempts < resume_retry_count
                            ):
                                attempts += 1
                                continue
                            break
                        row[status_col] = st
                        if st == "previous_committed":
                            # the program committed every record before
                            # this one (INTERFACE.md): a partial commit
                            flush_bracket(True, "")
                        if st in ("defer_commit", "previous_committed"):
                            # resolved when the bracket commits
                            deferred.append(row)
                        elif not confirm_messages and use_transactions:
                            deferred.append(row)
                    except (BrokenPipeError, OSError):
                        row[status_col] = "error:program terminated"
                        startup_err = "error:program terminated"
                # a batch leaves once none of its rows awaits a commit
                pending.append(rows)
                waiting = {id(r) for r in deferred}
                while pending and not waiting & {id(r) for r in pending[0]}:
                    yield frame(pending.pop(0))
            # close the bracket (endTransaction, :1029-1046)
            if in_tx and startup_err is None:
                try:
                    send(commit_mark)
                    if confirm_messages:
                        st = read_status()
                        flush_bracket(st == "ok", st)
                    else:
                        flush_bracket(True, "")
                except (BrokenPipeError, OSError):
                    flush_bracket(False, "program terminated")
            elif deferred:
                flush_bracket(False, "transaction not committed")
            for rows in pending:
                yield frame(rows)
        finally:
            if child is not None:
                try:
                    child.stdin.close()
                    child.wait(timeout=5)
                except (OSError, subprocess.TimeoutExpired):
                    child.kill()

    return df.mapInPandas(_proc, schema=schema)
