"""Message-modification operators (rsyslog mm* plugins) as DataFrame ops.

Each mm* plugin is a message -> message transform inserted between parse
and routing (SURVEY §2.2 bottom rows). All are pure column expressions —
no UDFs, full codegen — except where noted.

- mm_jsonparse   ≙ plugins/mmjsonparse/mmjsonparse.c (403 LoC)
- mm_fields      ≙ plugins/mmfields/mmfields.c (extractField :181-236)
- mm_rm1stspace  ≙ contrib/mmrm1stspace (drop leading MSG space)
- mm_anon        ≙ plugins/mmanon (IPv4 anonymization, zero low bits)
- mm_pstrucdata  ≙ plugins/mmpstrucdata (RFC5424 SD -> $!rfc5424-sd tree)
- mm_utf8fix     ≙ plugins/mmutf8fix — no-op here: Spark strings are
  already valid UTF-8 by construction (documented).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CEE_COOKIE = "@cee:"


def mm_jsonparse(
    df: DataFrame,
    msg_col: str = "msg",
    out: str = "cee",
    require_cookie: bool = False,
    cookie: str = CEE_COOKIE,
    flag_col: str = "cee_parsed",
) -> DataFrame:
    """Parse (optionally @cee:-cookied) JSON MSG into a string map.

    mmjsonparse.c: looks for the CEE cookie, parses the remainder into
    the ``$!`` tree; sets $!msg parse status. The ``$!`` tree is our
    map<string,string> column (SURVEY §1.3) — scalars coerced to their
    string forms (var2String rules, grammar/rainerscript.c:1432-1456).
    """
    msg = F.col(msg_col)
    stripped = F.when(
        msg.startswith(cookie), F.ltrim(F.substring(msg, len(cookie) + 1, 2**30))
    ).otherwise(msg)
    candidate = (
        stripped if not require_cookie else F.when(msg.startswith(cookie), stripped)
    )
    parsed = F.from_json(candidate, "map<string,string>")
    return df.withColumn(out, parsed).withColumn(flag_col, parsed.isNotNull())


def mm_fields(
    df: DataFrame,
    sep: str = ",",
    msg_col: str = "msg",
    out: str = "fields",
) -> DataFrame:
    """Split MSG on a 1-char separator into ``$!f1..fN``
    (parse_fields, mmfields.c:181-236; names "f%d" at :226).

    Output is a map<string,string> {f1: ..., fN: ...} — consecutive
    separators produce empty fields, exactly like extractField.
    """
    import re as _re

    parts = F.split(F.col(msg_col), _re.escape(sep))
    keys = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda n: F.concat(F.lit("f"), n.cast("string")),
    )
    return df.withColumn(out, F.map_from_arrays(keys, parts))


def mm_rm1stspace(df: DataFrame, msg_col: str = "msg") -> DataFrame:
    """Drop ONE leading space from MSG (contrib/mmrm1stspace) — undoes
    the RFC3164 'MSG begins after TAG, often with a space' quirk."""
    msg = F.col(msg_col)
    return df.withColumn(
        msg_col,
        F.when(msg.startswith(" "), F.substring(msg, 2, 2**30)).otherwise(msg),
    )


_IPV4_RE = r"((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])"


def mm_anon(
    df: DataFrame,
    msg_col: str = "msg",
    bits: int = 16,
    out: str | None = None,
) -> DataFrame:
    """Anonymize IPv4 addresses in MSG (plugins/mmanon, zero mode).

    Default ipv4.bits=16 zeroes the low two octets (mmanon's default is
    16 bits, zero replacement). Implemented for octet-aligned widths
    (8/16/24) as a regex rewrite — stays in codegen.
    """
    if bits not in (8, 16, 24):
        raise ValueError("mm_anon supports octet-aligned bits: 8, 16, 24")
    keep = 4 - bits // 8
    pat = r"\b(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})\b"
    repl = ".".join([f"${n}" for n in range(1, keep + 1)] + ["0"] * (bits // 8))
    return df.withColumn(out or msg_col, F.regexp_replace(F.col(msg_col), pat, repl))


def mm_pstrucdata(
    df: DataFrame,
    sd_col: str = "structured_data",
    out: str = "sd",
) -> DataFrame:
    """Parse RFC5424 STRUCTURED-DATA into a map (plugins/mmpstrucdata).

    ``[id k1="v1" k2="v2"]`` -> {"id": id, "k1": v1, ...}. Single
    SD-element support (the overwhelmingly common case); multi-element
    SD keeps the raw string available in ``structured_data``.
    """
    sd = F.col(sd_col)
    inner = F.regexp_extract(sd, r"^\[([^\]]*)\]", 1)
    sd_id = F.regexp_extract(inner, r"^(\S+)", 1)
    kvs = F.expr(
        f"regexp_extract_all(regexp_extract({sd_col}, '^\\\\[([^\\\\]]*)\\\\]', 1), "
        "'(\\\\S+)=\"([^\"]*)\"', 0)"
    )
    keys = F.transform(kvs, lambda s: F.regexp_extract(s, '^(\\S+)="', 1))
    vals = F.transform(kvs, lambda s: F.regexp_extract(s, '="([^"]*)"$', 1))
    m = F.map_from_arrays(
        F.concat(F.array(F.lit("id")), keys),
        F.concat(F.array(sd_id), vals),
    )
    return df.withColumn(out, F.when(sd.isNotNull() & (sd != "-"), m))


def mm_normalize(
    df: DataFrame,
    rules: list[tuple[str, str, int]],
    msg_col: str = "msg",
    out: str = "norm",
) -> DataFrame:
    """Rule-based field extraction into the ``$!`` map
    (plugins/mmnormalize/mmnormalize.c, liblognorm rulebase analog).

    ``rules`` = [(field_name, java_regex, group_idx), ...]; each rule
    extracts its group from MSG ('' when unmatched — liblognorm leaves
    unparsed fields absent; we keep '' for a fixed map shape). All rules
    compile into ONE map column — single codegen pass, no UDF.
    """
    msg = F.col(msg_col)
    keys, vals = [], []
    for name, pattern, grp in rules:
        keys.append(F.lit(name))
        vals.append(F.regexp_extract(msg, pattern, grp))
    return df.withColumn(out, F.map_from_arrays(F.array(keys), F.array(vals)))


# liblognorm v1 field types -> regex fragments (the documented subset;
# anything else is rejected loudly rather than silently mis-matched).
# Sources: plugins/mmnormalize/mmnormalize.c (runs liblognorm over
# $msg/rawmsg into the $! tree) and the public liblognorm v1 rulebase
# syntax: %name:type[:extra]% tokens between literals, '%%' = literal
# '%', unmatched lines yield {originalmsg, unparsed-data}.
_LN_TYPES = {
    "word": r"[^ ]+",
    "number": r"\d+",
    "alpha": r"[A-Za-z]+",
    "rest": r"[\s\S]*",
    "quoted-string": r"\"[^\"]*\"",
    "ipv4": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "date-rfc3164": r"[A-Z][a-z]{2} (?: \d|\d\d) \d{2}:\d{2}:\d{2}",
    "date-rfc5424": (
        r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?"
        r"(?:Z|[+-]\d{2}:\d{2})"
    ),
    # r5 additions (liblognorm v1 field types, r4 verdict #8):
    # float: optional sign, digits, optional fraction (a trailing '.'
    # is consumed, like the v1 greedy scan)
    "float": r"-?\d+(?:\.\d*)?",
    # mac48: six hex octet pairs, ':' or '-' separated — the separator
    # must be CONSISTENT (v1 checks one separator char), enforced by
    # alternation rather than a backreference (keeps field numbering)
    "mac48": (
        r"(?:(?:[0-9A-Fa-f]{2}:){5}|(?:[0-9A-Fa-f]{2}-){5})"
        r"[0-9A-Fa-f]{2}"
    ),
    # ipv6: full and ::-compressed forms (standard 9-branch form);
    # the v1 hand parser additionally rejects some degenerate mixes —
    # documented regex subset
    "ipv6": (
        r"(?:(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,7}:"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,5}(?::[0-9A-Fa-f]{1,4}){1,2}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,4}(?::[0-9A-Fa-f]{1,4}){1,3}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,3}(?::[0-9A-Fa-f]{1,4}){1,4}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,2}(?::[0-9A-Fa-f]{1,4}){1,5}"
        r"|[0-9A-Fa-f]{1,4}:(?::[0-9A-Fa-f]{1,4}){1,6}"
        r"|:(?::[0-9A-Fa-f]{1,4}){1,7}"
        r"|::)"
    ),
    # name-value-list: space-separated name=value tokens; the FIELD
    # captures the whole span (v1's per-pair sub-field explosion is
    # not modeled — the span is the stringly-typed bag's analog)
    "name-value-list": r"[^= ]+=[^ ]*(?: [^= ]+=[^ ]*)*",
    # r5 additions, second batch (remaining v1 simple types):
    # hexnumber: "0x" + 1..n hex digits (v1 doc: begins with "0x",
    # followed by one or more hex digits)
    "hexnumber": r"0x[0-9A-Fa-f]+",
    # whitespace: all whitespace up to the first non-whitespace char
    # (usually used with the discard name '-')
    "whitespace": r"\s+",
    # duration: hh:mm:ss where hours may exceed two digits
    "duration": r"\d+:\d{2}:\d{2}",
    # time-24hr / time-12hr: HH:MM:SS with 24h (00-23) / 12h (0-12,
    # optional leading zero) hour ranges
    "time-24hr": r"(?:[01]\d|2[0-3]):[0-5]\d:[0-5]\d",
    "time-12hr": r"(?:1[0-2]|0?\d):[0-5]\d:[0-5]\d",
    # kernel-timestamp: [ddddd.dddddd], integer part 5..12 digits,
    # fraction exactly 6 (v1 doc)
    "kernel-timestamp": r"\[\d{5,12}\.\d{6}\]",
    # iptables: space-separated name=value pairs where the value may
    # be empty or the name may stand alone (iptables log lines:
    # "IN=eth0 OUT= MAC=... SRC=..."); like name-value-list the FIELD
    # captures the whole span, per-pair sub-fields are not modeled
    "iptables": r"[^= ]+(?:=[^ ]*)?(?: [^= ]+(?:=[^ ]*)?)*",
}


def _decode_hex_escapes(s: str) -> str:
    """liblognorm ``\\x3a``-style escapes -> chars (the only way to
    put ':' and other spec-delimiters in a field's extra data)."""
    import re as _re

    return _re.sub(
        r"\\x([0-9a-fA-F]{2})", lambda m: chr(int(m.group(1), 16)), s
    )


def _noncapturing(regex: str) -> str:
    """Rewrite every capturing ``(`` to ``(?:`` so a regex-type field's
    inner groups don't shift the rule's field->group numbering.
    Brackets inside character classes are literals and left alone."""
    out, i, in_class = [], 0, False
    while i < len(regex):
        c = regex[i]
        if c == "\\" and i + 1 < len(regex):
            out.append(regex[i:i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(" and not regex.startswith("(?", i):
            out.append("(?:")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _decode_stop_char(stop: str, pat: str, tname: str) -> str:
    """One-char stop for char-to/char-sep, \\x3a-escape decoded — the
    only way to express ':' since ':' separates the spec (reference
    rulebases use char-to:\\x3a)."""
    import re as _re

    if _re.fullmatch(r"\\x[0-9a-fA-F]{2}", stop):
        stop = chr(int(stop[2:], 16))
    if len(stop) != 1:
        raise ValueError(
            f"liblognorm {tname} needs one stop char: {pat!r}"
        )
    return stop


def _parse_ln_type(tspec: str, pat: str, allow_regex: bool):
    """Recursive field-type spec parser.

    Returns either a plain type name (str) or a structured tuple:
    ('char-to'|'char-sep', stop), ('regex', pattern),
    ('tokenized', sep, inner_type). ``tokenized``'s extra data is
    SEP ':' INNER-SPEC — the separator runs to the first RAW colon
    (escaped colons spelled \\x3a), the remainder parses recursively
    (liblognorm v1: arbitrarily nested tokenized, exercised by
    tests/mmnormalize_tokenized.sh's 3-level rule)."""
    t, _, extra = tspec.partition(":")
    if t in ("char-to", "char-sep"):
        return (t, _decode_stop_char(extra, pat, t))
    if t == "string-to":
        # v1 string-to: field is everything up to the (multi-char)
        # stop string in extra data; the stop string is NOT consumed —
        # parsing resumes at it, so the rule pattern carries it as a
        # literal after the field (char-to semantics generalized)
        if not extra:
            raise ValueError(
                f"liblognorm string-to needs a stop string: {pat!r}"
            )
        return ("string-to", _decode_hex_escapes(extra))
    if t == "regex":
        # liblognorm regex field_type (ERE, compiled with the
        # liblognorm-bundled engine) — gated exactly like the
        # reference: mmnormalize module(allowRegex="on") ->
        # ln_setCtxOpts(ctx, allow_regex), else rule load fails
        # (tests/mmnormalize_regex_disabled.sh). ERE is a subset of
        # the Java dialect Spark compiles, so the decoded pattern
        # embeds directly; its inner groups are rewritten
        # non-capturing to keep field numbering.
        if not allow_regex:
            raise ValueError(
                "liblognorm regex field_type requires "
                'module(load="mmnormalize" allowRegex="on") '
                "(ln_setCtxOpts; mmnormalize.c allow_regex)"
            )
        if not extra:
            raise ValueError(
                f"liblognorm regex field needs a pattern: {pat!r}"
            )
        return ("regex", _decode_hex_escapes(extra))
    if t == "tokenized":
        sep_raw, colon, inner = extra.partition(":")
        if not colon or not sep_raw:
            raise ValueError(
                f"liblognorm tokenized needs SEP:TYPE extra data: "
                f"{pat!r}"
            )
        return (
            "tokenized",
            _decode_hex_escapes(sep_raw),
            _parse_ln_type(inner, pat, allow_regex),
        )
    if t in _LN_TYPES:
        if extra:
            raise ValueError(
                f"liblognorm type {t!r} takes no extra data: {pat!r}"
            )
        return t
    raise ValueError(
        f"unsupported liblognorm field type {t!r} (supported: "
        f"{sorted(_LN_TYPES)} + char-to/char-sep/string-to/regex/"
        f"tokenized)"
    )


def _ln_type_frag(ftype) -> str:
    """Field type -> regex fragment (all inner groups non-capturing)."""
    import re as _re

    if isinstance(ftype, tuple):
        kind = ftype[0]
        if kind == "char-to":
            return "[^" + _re.escape(ftype[1]) + "]+"
        if kind == "char-sep":
            # like char-to but the field may also end the line -> empty
            # match allowed (liblognorm char-sep semantics)
            return "[^" + _re.escape(ftype[1]) + "]*"
        if kind == "string-to":
            # 1+ chars none of which starts the stop string (the stop
            # string itself stays in the input as the next literal)
            return "(?:(?!" + _re.escape(ftype[1]) + r")[\s\S])+"
        if kind == "regex":
            return _noncapturing(ftype[1])
        if kind == "tokenized":
            inner = _ln_type_frag(ftype[2])
            sep = _re.escape(ftype[1])
            return f"(?:{inner})(?:{sep}(?:{inner}))*"
        raise AssertionError(kind)
    return _LN_TYPES[ftype]


def _ln_compile_pattern(
    pat: str, allow_regex: bool = False
) -> tuple[str, list[tuple[str, str]]]:
    """One v1 rule pattern -> (anchored java regex, [(name, type)])."""
    import re as _re

    out, fields, i = ["^"], [], 0
    n = len(pat)
    while i < n:
        c = pat[i]
        if c == "%":
            if i + 1 < n and pat[i + 1] == "%":
                out.append(_re.escape("%"))
                i += 2
                continue
            j = pat.index("%", i + 1)
            name, _, tspec = pat[i + 1:j].partition(":")
            ftype = _parse_ln_type(tspec or "word", pat, allow_regex)
            frag = _ln_type_frag(ftype)
            if name == "-":
                out.append("(?:" + frag + ")")
            else:
                out.append("(" + frag + ")")
                fields.append((name, ftype))
            i = j + 1
        else:
            out.append(_re.escape(c))
            i += 1
    out.append("$")
    return "".join(out), fields


def parse_rulebase(text: str, allow_regex: bool = False) -> list:
    """liblognorm v1 rulebase text -> [(regex, [(name, type)], consts)]
    in file order (liblognorm picks the first matching rule).

    Supported lines: ``rule=[tag,...]:pattern``, ``annotate=TAG:+name=
    "value"`` (annotation fields are added to every event a TAG-tagged
    rule matched — the reference's mmnormalize_processing rulebases use
    them for constant enrichment) and comments; ``prefix=`` etc. are
    rejected loudly. ``consts`` is the [(name, value)] annotation list
    resolved per rule from its tags."""
    import re as _re

    raw_rules = []           # (regex, fields, tags)
    annots: dict[str, list] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if line.startswith("rule="):
            body = line[len("rule="):]
            # rule=[tag1,tag2]:pattern — tags end at the first ':'
            colon = body.index(":")
            tags = [t for t in body[:colon].split(",") if t]
            pattern = body[colon + 1:]
            try:
                compiled = _ln_compile_pattern(pattern, allow_regex)
            except ValueError as e:
                if "allowRegex" in str(e):
                    # the reference SKIPS a regex rule when allow_regex
                    # is off (ln_loadSamples logs and continues; pinned
                    # by tests/mmnormalize_regex_disabled.sh +
                    # mmnormalize_regex_defaulted.sh: daemon runs, no
                    # extraction) — engine-unsupported constructs still
                    # raise below
                    continue
                raise
            raw_rules.append(compiled + (tags,))
        elif line.startswith("annotate="):
            m = _re.fullmatch(
                r'annotate=([^:]+):\+([^=]+)="((?:[^"\\]|\\.)*)"', line
            )
            if m is None:
                raise ValueError(
                    f"unsupported annotate line (expected annotate="
                    f'TAG:+name="value"): {line!r}'
                )
            # the rulebase parser unescapes \" / \\ in the quoted value
            val = _re.sub(r"\\(.)", r"\1", m.group(3))
            annots.setdefault(m.group(1), []).append((m.group(2), val))
        else:
            raise ValueError(
                f"unsupported rulebase line (only rule=/annotate= "
                f"handled): {line!r}"
            )
    rules = []
    for regex, fields, tags in raw_rules:
        fnames = {nm for nm, _t in fields}
        # duplicate names (repeated annotate lines, two tags defining
        # the same field) collapse LAST-wins like
        # json_object_object_add — map_from_arrays would otherwise
        # throw DUPLICATED_MAP_KEY at runtime
        cmap: dict = {}
        for t in tags:
            for nm, val in annots.get(t, []):
                if nm not in fnames:
                    cmap[nm] = val
        rules.append((regex, fields, list(cmap.items())))
    return rules


def mm_normalize_rulebase(
    df: DataFrame,
    rulebase: str,
    msg_col: str = "msg",
    out: str = "norm",
    allow_regex: bool = False,
) -> DataFrame:
    """mmnormalize with an actual liblognorm v1 rulebase (subset).

    First-match-wins over the rules in file order; the matching rule's
    fields land in ``out`` (map<string,string> — the $! tree shape,
    quoted-string values keep their quotes stripped). A message no
    rule matches gets liblognorm's unparsed event:
    {originalmsg: <msg>, unparsed-data: <msg>} (ln_normalize's
    documented behavior, surfaced by mmnormalize into $!)."""
    msg = F.coalesce(F.col(msg_col), F.lit(""))
    return df.withColumn(
        out,
        rulebase_map_expr(msg, parse_rulebase(rulebase, allow_regex)),
    )


def _json_escape_col(c):
    """fjson string-escape subset (backslash, quote, forward slash —
    fjson emits '\\/' for '/', visible in the reference's tokenized
    golden '[ "\\/bin", ... ]')."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    return F.replace(c, F.lit("/"), F.lit("\\/"))


def _tokenized_json(v, ftype):
    """Render a tokenized field's matched span as the JSON array string
    liblognorm puts in the event ('[ "a", "b" ]', nested arrays for
    nested tokenized) — splits on the literal separator, recursing per
    level; pure Column ops (split/transform/array_join)."""
    import re as _re

    sep, inner = ftype[1], ftype[2]
    parts = F.split(v, _re.escape(sep))
    if isinstance(inner, tuple) and inner[0] == "tokenized":
        items = F.transform(parts, lambda x: _tokenized_json(x, inner))
    else:
        items = F.transform(
            parts,
            lambda x: F.concat(
                F.lit('"'), _json_escape_col(x), F.lit('"')
            ),
        )
    return F.concat(
        F.lit("[ "), F.array_join(items, ", "), F.lit(" ]")
    )


def _ln_field_value(v, ftype):
    """Captured span -> event value per field type."""
    if ftype == "quoted-string":
        # liblognorm strips the enclosing quotes from the value
        return F.regexp_replace(v, '^"|"$', "")
    if isinstance(ftype, tuple) and ftype[0] == "tokenized":
        return _tokenized_json(v, ftype)
    return v


def rulebase_map_expr(msg, rules: list, key_prefix: str = ""):
    """First-match rule cascade -> map<string,string> Column over
    ``msg``. ``key_prefix`` prepends the flat-key path (mmnormalize's
    path="$!x" -> prefix "x!"); the unparsed event keys are prefixed
    too (msgAddJSON grafts the WHOLE liblognorm result at the path)."""
    unmatched = F.map_from_arrays(
        F.array(F.lit(key_prefix + "originalmsg"),
                F.lit(key_prefix + "unparsed-data")),
        F.array(msg, msg),
    )
    result = unmatched
    for rule in reversed(rules):
        regex, fields, consts = (
            rule if len(rule) == 3 else (rule[0], rule[1], [])
        )
        vals = [
            _ln_field_value(F.regexp_extract(msg, regex, k + 1), ftype)
            for k, (_name, ftype) in enumerate(fields)
        ]
        # annotate= constants ride the same matched map (liblognorm
        # annotation: tag-matched events gain the fixed fields)
        vals.extend(F.lit(cv) for _cn, cv in consts)
        names = [key_prefix + nm for nm, _t in fields]
        names.extend(key_prefix + cn for cn, _cv in consts)
        # a rule repeating a field name: LAST wins (json object set
        # overwrites) — duplicate map keys would throw at runtime
        if len(set(names)) != len(names):
            keep = {}
            for idx2, nm in enumerate(names):
                keep[nm] = idx2
            sel2 = sorted(keep.values())
            names = [names[x] for x in sel2]
            vals = [vals[x] for x in sel2]
        empty = F.array().cast("array<string>")
        matched_map = F.map_from_arrays(
            F.array(*[F.lit(nm) for nm in names]) if names else empty,
            F.array(*vals) if vals else empty,
        )
        result = F.when(msg.rlike(regex), matched_map).otherwise(result)
    return result


def utf8fix_bytes(b: bytes, repl: int = 0x20, mode: str = "utf-8") -> bytes:
    """Byte-level mmutf8fix (plugins/mmutf8fix/mmutf8fix.c:196-296).

    mode='utf-8' (the default MODE_UTF8): scan UTF-8 sequences; replace
    EVERY byte of an invalid sequence with ``repl`` — invalid means a
    bad start byte (stray continuation / RFC3629-forbidden 5-6 byte
    lead), a broken continuation (which also re-examines the breaking
    byte as a fresh sequence start, the goto in doUTF8), an overlong
    encoding, a UTF-16 surrogate, a codepoint > 0x10FFFF, or a sequence
    truncated by end-of-message. mode='controlcharacters' (MODE_CC):
    replace every byte outside 32..126.
    """
    out = bytearray(b)
    n = len(out)
    if mode == "controlcharacters":
        for i in range(n):
            if out[i] < 32 or out[i] > 126:
                out[i] = repl
        return bytes(out)
    i = 0
    while i < n:
        c = out[i]
        if c < 0x80:
            i += 1
            continue
        if (c & 0xE0) == 0xC0:
            need, cp, floor_cp = 1, c & 0x1F, 0x80
        elif (c & 0xF0) == 0xE0:
            need, cp, floor_cp = 2, c & 0x0F, 0x800
        elif (c & 0xF8) == 0xF0:
            need, cp, floor_cp = 3, c & 0x07, 0x10000
        else:
            out[i] = repl  # stray continuation or forbidden lead
            i += 1
            continue
        start = i
        j = i + 1
        ok = True
        while need and j < n:
            if (out[j] & 0xC0) != 0x80:
                ok = False  # broken continuation: wipe start..j-1,
                break       # then re-examine out[j] as a fresh start
            cp = (cp << 6) | (out[j] & 0x3F)
            j += 1
            need -= 1
        if need and ok:
            ok = False  # truncated by end of message
            j = n
        if ok and (cp < floor_cp or 0xD800 <= cp <= 0xDFFF or cp > 0x10FFFF):
            ok = False  # overlong / surrogate / beyond Unicode
        if not ok:
            for k in range(start, j):
                out[k] = repl
        i = j
    return bytes(out)


def mm_utf8fix(
    df: DataFrame,
    msg_col: str = "msg",
    mode: str = "utf-8",
    replacement: str = " ",
) -> DataFrame:
    """plugins/mmutf8fix: replace invalid UTF-8 (or non-printable)
    bytes with ``replacement``.

    On a STRING column this is the identity — Spark/parquet strings are
    valid UTF-8 by construction, so there is nothing to fix (documented
    r01 behavior). On a BINARY column (the raw wire path, where the
    reference actually operates) the real byte-level algorithm runs in
    an Arrow batch pass."""
    from pyspark.sql.types import BinaryType

    field = df.schema[msg_col]
    if not isinstance(field.dataType, BinaryType):
        return df
    repl = ord(replacement)

    @F.pandas_udf(BinaryType())
    def _fix(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: None if b is None else utf8fix_bytes(bytes(b), repl, mode)
        )

    return df.withColumn(msg_col, _fix(F.col(msg_col)))


def load_rulebase_text(rule, rb_file, modname: str, cite: str) -> str:
    """Shared rule=/rulebase= source loader for mmnormalize +
    pmnormalize (rule= is an array of rulebase lines joined with
    newlines per the strcat walk; rulebase= names a file read at
    config time — ln_loadSamples at activation). The caller validates
    the exactly-one-source rule with its module's own reference error
    text; a missing/unreadable file raises here with the shared
    ln_loadSamples wording."""
    if rule is not None:
        lines = rule if isinstance(rule, list) else [rule]
        return "\n".join(lines) + "\n"
    try:
        with open(rb_file) as fh:
            return fh.read()
    except OSError as e:
        raise ValueError(
            f"{modname}: normalization rulebase {rb_file!r} could not "
            f"be loaded, cannot activate ({cite}): {e}"
        ) from e


# ---------------------------------------------------------------------------
# mmtaghostname (contrib/mmtaghostname/mmtaghostname.c)
# ---------------------------------------------------------------------------


def mm_taghostname(
    df: DataFrame,
    tag: str | None = None,
    force_localhostname: bool = False,
    localhostname: str = "localhost",
    active: Column | None = None,
) -> DataFrame:
    """Retag / re-hostname a message (contrib/mmtaghostname/
    mmtaghostname.c:160-178 doAction).

    - ``tag=``: MsgSetTAG — the syslogtag is REPLACED wholesale (the
      reference test renders ``tag: source-imtcp`` with no bracket
      append, tests/mmtaghostname_tag.sh). programname is re-derived
      from the new TAG (the reference invalidates the cached
      programname; ours is an eager column).
    - ``forcelocalhostname="on"``: MsgSetHOSTNAME to the daemon's local
      host name — ``global(localhostname=...)`` in config text
      (tests/mmtaghostname_server.sh), deterministic "localhost" when
      unset (a machine hostname would break golden tests).

    ``active`` is the routing-path gate: rows where it is not true keep
    every column. Pure column expressions, no UDF; one projection, so
    the gate reads the columns as they were before the action.
    """
    from rsyslog_spark.parse.chain import _PROGNAME_RE

    if active is None:
        active = F.lit(True)
    new: dict[str, Column] = {}
    if tag is not None:
        new["syslogtag"] = F.lit(tag)
        if "programname" in df.columns:
            new["programname"] = F.regexp_extract(
                F.lit(tag), _PROGNAME_RE, 1
            )
    if force_localhostname:
        new["hostname"] = F.lit(localhostname)
    return df.withColumns(
        {c: F.when(active, v).otherwise(F.col(c)) for c, v in new.items()}
    )


# ---------------------------------------------------------------------------
# mmdblookup (plugins/mmdblookup/mmdblookup.c)
# ---------------------------------------------------------------------------


def _dblookup_fields(fields, container: str) -> list[tuple[str, str]]:
    """Field-spec parse (mmdblookup.c:265-293): each entry is
    ``name`` or ``:varname:name`` (missing closing colon = config
    error); a leading '!' of the name is stripped; the write path is
    ``<container>!<varname-or-name>`` — returned as (record_path,
    bag_key) with the container's leading '!' dropped for the flat
    bag."""
    out = []
    for param in [fields] if isinstance(fields, str) else fields:
        varname = None
        name = param
        if param.startswith(":"):
            b = param.find(":", 1)
            if b < 0:
                raise ValueError(
                    f"mmdblookup: missing closing colon: {param!r} "
                    "(mmdblookup.c:275-278)"
                )
            varname = param[1:b]
            name = param[b + 1:]
        if name.startswith("!"):
            name = name[1:]
        key = container + "!" + (varname if varname else name)
        out.append((name, key.lstrip("!")))
    return out


def mm_dblookup(
    df: DataFrame,
    key: str,
    mmdbfile: str,
    fields,
    container: str = "!iplocation",
    vars_col: str = "vars",
    active: Column | None = None,
) -> DataFrame:
    """GeoIP-style enrichment from a MaxMind DB
    (plugins/mmdblookup/mmdblookup.c doAction :350-455).

    ``key`` names the message property holding the address ("$!ip",
    "$.x", or a plain property/column name). Per row: a missing key /
    unparsable address (the gai error path :374-379) / no database
    entry (:385-388) is a silent no-op; otherwise each configured
    field walks the record along its '!'-separated path (:416-434 —
    a missing component yields json NULL; the reference then
    msgAddJSON's a null node, ours skips the write) and lands at
    ``<container>!<varname>`` in the bag (msgAddJSON replace
    semantics; container default "!iplocation", :46). Subtree values
    flatten with the bag's ``a!b`` convention; scalars stringify.

    ``active`` is the routing-path gate: both UDF inputs are null on
    rows where it is not true, so those rows cross the Arrow boundary
    as nulls and keep their bag.

    100 TB shape: the database is ENUMERATED ONCE (driver-side) into
    sorted network intervals via the pure-Python MMDB reader
    (rsyslog_spark.mmdb — the format spec is public) and shipped to
    executors as a ``SparkContext.broadcast`` of two int lists +
    records (once per executor, not inside every task's closure); each
    batch does an O(log n) bisect per row — no per-row tree pointer
    walk, no join, no shuffle. The reference links libmaxminddb and
    walks the tree per message; same contract, batch-friendly plan.
    """
    import bisect

    from rsyslog_spark.mmdb import MMDBReader
    from rsyslog_spark.templates import resolve_property
    from rsyslog_spark.templates import var_key as _vk

    reader = MMDBReader.open(mmdbfile)  # config-time: bad file is loud
    nets = reader.networks()
    bc = df.sparkSession.sparkContext.broadcast((
        [a for a, _, _ in nets],
        [b for _, b, _ in nets],
        [r for _, _, r in nets],
    ))
    specs = _dblookup_fields(fields, container)

    if key.startswith(("$!", "$.")):
        key_expr = F.element_at(F.col(vars_col), _vk(key))
    else:
        key_expr = resolve_property(key.lstrip("$")).cast("string")

    import json as _json

    def _flatten(prefix: str, v, bag: dict) -> None:
        if isinstance(v, dict):
            for k, sub in v.items():
                _flatten(prefix + "!" + k, sub, bag)
        elif isinstance(v, list):
            bag[prefix] = _json.dumps(v, separators=(",", ":"))
        elif isinstance(v, bool):
            bag[prefix] = "true" if v else "false"
        elif v is not None:
            bag[prefix] = (
                v if isinstance(v, str) else _json.dumps(v)
            )

    def _enrich_one(bag, ip, starts, ends, recs):
        import ipaddress as _ipa

        if ip is None:
            return bag
        try:
            ival = int(_ipa.ip_address(ip))
        except ValueError:
            return bag
        at = bisect.bisect_right(starts, ival) - 1
        if at < 0 or ends[at] < ival:
            return bag
        rec = recs[at]
        bag = dict(bag or {})
        for path, bag_key in specs:
            node = rec
            for part in path.split("!"):
                if not isinstance(node, dict) or part not in node:
                    node = None
                    break
                node = node[part]
            if node is None:
                continue
            for k in [
                x for x in bag
                if x == bag_key or x.startswith(bag_key + "!")
            ]:
                del bag[k]
            _flatten(bag_key, node, bag)
        return bag

    @F.pandas_udf("map<string,string>")
    def _walk(bags: pd.Series, ips: pd.Series) -> pd.Series:
        starts, ends, recs = bc.value
        return pd.Series(
            [
                _enrich_one(b, i, starts, ends, recs)
                for b, i in zip(bags, ips)
            ],
            index=bags.index,
        )

    if active is None:
        active = F.lit(True)
    cur = F.col(vars_col)
    new_bag = _walk(F.when(active, cur), F.when(active, key_expr))
    return df.withColumn(vars_col, F.when(active, new_bag).otherwise(cur))


# ---------------------------------------------------------------------------
# mmsnmptrapd (plugins/mmsnmptrapd/mmsnmptrapd.c)
# ---------------------------------------------------------------------------


def parse_snmptrapd_severity_mapping(s: str) -> list[tuple[str, int]]:
    """Config-time parse of ``$mmsnmptrapdSeverityMapping``
    (plugins/mmsnmptrapd/mmsnmptrapd.c:271-316 buildSeverityMapping over
    :161-182 getSubstring). Format: ``name/code,name/code,...``.

    Bug-for-bug with the C:

    - getSubstring trims LEADING spaces only (the trailing-trim loop
      at :172-174 tests ``*dst`` — the already-trimmed first char — so
      it never fires; "warning /4" keeps the trailing space in the
      name);
    - an empty name substring ends parsing cleanly (so a trailing ','
      is fine), but a name without a code is a config error (:287-291);
    - the code must pass the isNumeric walk (:137-152, optional +/-
      sign then digits only; atoi otherwise → -1) and land in 0..7
      (:295-299) — "-1" and "8" are config errors;
    - nodes are PREPENDED (:303-305), so among duplicate names the
      LAST-defined entry wins the lookup — returned order preserves
      definition order; callers that build a dict get last-wins for
      free.
    """
    pairs: list[tuple[str, int]] = []
    pos = 0
    n = len(s)

    def sub(delim: str) -> str:
        nonlocal pos
        while pos < n and s[pos] in " \t\n\v\f\r":
            pos += 1
        j = pos
        while j < n and s[j] != delim:
            j += 1
        tok = s[pos:j]
        pos = j + 1 if j < n else j
        return tok

    while True:
        name = sub("/")
        if not name:
            return pairs
        code_s = sub(",")
        if not code_s:
            raise ValueError(
                "mmsnmptrapd: invalid severity mapping, cannot extract "
                f"code (mmsnmptrapd.c:287-291); given: {s!r}"
            )
        body = code_s[1:] if code_s[0] in "+-" else code_s
        numeric = all(c.isdigit() for c in body)  # isNumeric(:137-152)
        if numeric:
            code = int(code_s) if body else 0  # atoi("+") == 0
        else:
            code = -1
        if code < 0 or code > 7:
            raise ValueError(
                f"mmsnmptrapd: severity code {code} outside of valid "
                f"range 0..7 (was string {code_s!r}) "
                "(mmsnmptrapd.c:295-299)"
            )
        pairs.append((name, code))


def mm_snmptrapd(
    df: DataFrame,
    tag: str = "snmptrapd",
    severity_mapping: str | list | None = None,
    active: Column | None = None,
) -> DataFrame:
    """Rewrite snmptrapd-emitted messages so they look like they came
    from the real originator (plugins/mmsnmptrapd/mmsnmptrapd.c:228-265
    doAction).

    snmptrapd (with the matching rsyslog-side convention) emits lines
    tagged ``snmptrapd/<severity>/<origin-host>:``; this module, for
    every message whose TAG starts with ``<tag>/``:

    - extracts the severity component (chars after ``<tag>/`` up to the
      next '/', ' ' or end — getTagComponent :189-206) and, when it is
      found in the severity mapping, overwrites syslogseverity like the
      parser does (:262-263) — ``pri`` is re-derived as
      ``facility*8 + severity`` (the reference's pri property computes
      from iFacility/iSeverity on demand);
    - extracts the origin-host component (the chars after the NEXT '/';
      empty when the severity was terminated by space/end), strips ONE
      trailing ':' (:254-257), and MsgSetHOSTNAME's it — note the C
      sets the hostname even when the component is EMPTY (:261 runs
      unconditionally after the tag matched);
    - replaces the TAG with ``<tag>:`` (MsgSetTAG :260 — pszTagName is
      the configured tag + ':', and lenTagID == its length since both
      are base+1 char). programname is re-derived from the new TAG
      (the reference caches programname lazily; any later query
      derives from the new TAG — our column is eager).

    Messages whose TAG does not start with ``<tag>/`` are untouched
    (:242-246). Pure column expressions, no UDF.
    """
    import re as _re

    from rsyslog_spark.parse.chain import _PROGNAME_RE

    if isinstance(severity_mapping, str):
        severity_mapping = parse_snmptrapd_severity_mapping(
            severity_mapping
        )
    sevmap = dict(severity_mapping or ())  # last duplicate wins (:303)

    tag_id = tag + "/"
    tag_name = tag + ":"
    esc = _re.escape(tag_id)
    # scratch column: Column exprs resolve lazily, so a raw
    # startswith(syslogtag) would see the REPLACED tag in the updates
    # applied after MsgSetTAG below
    hit = F.col("syslogtag").startswith(tag_id)
    if active is not None:
        # routing-path gate: the action only sees messages on its
        # (non-stopped) execution path
        hit = active & hit
    df = df.withColumn("_snmptrapd_hit", hit)
    matched = F.col("_snmptrapd_hit")
    comp = "([^ /]*)"  # getTagComponent: until '/', ' ' or end
    host = F.regexp_replace(
        F.regexp_extract("syslogtag", "^" + esc + "[^ /]*/" + comp, 1),
        ":$",
        "",
    )
    df = df.withColumn(
        "hostname",
        F.when(matched, host).otherwise(F.col("hostname")),
    )
    if sevmap and "syslogseverity" in df.columns:
        sever = F.regexp_extract("syslogtag", "^" + esc + comp, 1)
        lits: list[Column] = []
        for k, v in sevmap.items():
            lits += [F.lit(k), F.lit(v)]
        new_sev = F.element_at(F.create_map(*lits), sever)
        upd = matched & new_sev.isNotNull()
        df = df.withColumn(
            "syslogseverity",
            F.when(upd, new_sev).otherwise(F.col("syslogseverity")),
        )
        if "pri" in df.columns:
            df = df.withColumn(
                "pri",
                F.when(
                    upd, F.col("syslogfacility") * 8 + new_sev
                ).otherwise(F.col("pri")),
            )
    # TAG replacement LAST — the severity/host extracts above read the
    # original TAG (doAction holds pszTag from before MsgSetTAG)
    df = df.withColumn(
        "syslogtag",
        F.when(matched, F.lit(tag_name)).otherwise(F.col("syslogtag")),
    )
    if "programname" in df.columns:
        prog = _re.match(_PROGNAME_RE, tag_name).group(1)
        df = df.withColumn(
            "programname",
            F.when(matched, F.lit(prog)).otherwise(F.col("programname")),
        )
    return df.drop("_snmptrapd_hit")


# ---------------------------------------------------------------------------
# mmaudit (plugins/mmaudit/mmaudit.c)
# ---------------------------------------------------------------------------


def audit_record_fields(s: str | None) -> dict | None:
    """Byte-exact Linux-audit record walk (mmaudit.c:203-268 doAction +
    :120-199 parseName/parseValue/audit_parse). Returns the flattened
    ``$!audit`` tree ({'audit!hdr!auditid': .., 'audit!hdr!type': ..,
    'audit!data!<name>': ..}) or None when the line is not detected as
    an audit record (bSuccess stays 0).

    Reference quirks kept bug-for-bug:

    - ``buf += sizeof(" audit(")`` (:241) skips the NUL too, so the
      FIRST character of the audit id is dropped ("1234.56:78" records
      as "234.56:78");
    - parseValue (:137-165) stops AT a closing quote without consuming
      it, so a quoted value followed by more pairs leaks the quote and
      separator into the NEXT name (``msg='a' pid=1`` yields data keys
      {"msg": "a", "' pid": "1"});
    - audit_parse's error return is IGNORED by doAction (:251-256 —
      only the NULL check runs), so a trailing quote / missing '='
      commits the pairs parsed so far and still reports success;
    - name/value buffers cap at 1023 chars (sizeof name/val - 1).
    """
    if s is None:
        return None
    i, n = 0, len(s)
    while i < n and s[i] in " \t\n\v\f\r":
        i += 1
    if not s.startswith("type=", i):
        return None
    i += 5
    type_id = 0
    while i < n and s[i].isdigit():
        type_id = type_id * 10 + ord(s[i]) - 48
        i += 1
    if not s.startswith(" audit(", i):
        return None
    i += len(" audit(") + 1  # sizeof() quirk: first id char dropped
    j = i
    while j < n and s[j] != ")" and j - i < 1022:
        j += 1
    audit_id = s[i:j]
    if j >= n or s[j] != ")" or j + 1 >= n or s[j + 1] != ":":
        return None
    i = j + 2
    data: dict[str, str] = {}
    while i < n:
        # parseName: skip whitespace, read until '=' (cap 1023)
        while i < n and s[i] in " \t\n\v\f\r":
            i += 1
        j = i
        while j < n and s[j] != "=" and j - i < 1023:
            j += 1
        name = s[i:j]
        i = j
        if i >= n or s[i] != "=":
            break  # audit_parse error — swallowed, partial commit
        i += 1
        # parseValue: quote-aware, terminator NOT consumed
        if i < n and s[i] in "'\"":
            termc = s[i]
            i += 1
        else:
            termc = " "
        j = i
        while j < n and s[j] != termc and j - i < 1023:
            j += 1
        data[name] = s[i:j]
        i = j
    out = {"audit!hdr!auditid": audit_id, "audit!hdr!type": str(type_id)}
    for k, v in data.items():
        out["audit!data!" + k] = v
    return out


def mm_audit(
    df: DataFrame,
    msg_col: str = "msg",
    vars_col: str = "vars",
    active: Column | None = None,
) -> DataFrame:
    """Detect Linux audit records in MSG and parse them into the
    ``$!audit`` subtree (plugins/mmaudit/mmaudit.c, 344 LoC).

    On detection the subtree is merged into the vars bag (msgAddJSON
    "!audit", :268) and parse_success is set; a non-audit line leaves
    vars untouched and parse_success false (MsgSetParseSuccess with
    bSuccess 0/1, :272). The ``hdr.type`` int renders as its decimal
    string — engine-wide map<string,string> coercion convention.

    ``active`` is the routing-path gate: off-path rows cross the UDF as
    null MSGs and keep vars and parse_success unchanged.

    Arrow-batched pandas UDF: the walk is a stateful per-char scan with
    quote rules the reference itself runs per message; no column-
    expression form reproduces its quirks.
    """
    from pyspark.sql.types import MapType, StringType

    @F.pandas_udf(MapType(StringType(), StringType()))
    def _walk(texts: pd.Series) -> pd.Series:
        return texts.map(audit_record_fields)

    if active is None:
        active = F.lit(True)
    hit = f"_audit_{msg_col}"
    df = df.withColumn(hit, _walk(F.when(active, F.col(msg_col))))
    got = F.col(hit).isNotNull()
    if vars_col not in df.columns:
        df = df.withColumn(
            vars_col, F.create_map().cast("map<string,string>")
        )
    cur = F.col(vars_col)
    merged = F.map_concat(
        F.map_filter(
            cur, lambda k, _: ~F.array_contains(F.map_keys(F.col(hit)), k)
        ),
        F.col(hit),
    )
    prev = (
        F.col("parse_success")
        if "parse_success" in df.columns
        else F.lit(None).cast("boolean")
    )
    # MsgSetParseSuccess(pMsg, bSuccess) runs on EVERY message the
    # action sees (:272) — unconditional overwrite, 0 and 1 alike; one
    # projection, so the gate reads vars as they were before the merge
    return df.withColumns({
        vars_col: F.when(got, merged).otherwise(cur),
        "parse_success": F.when(active, got).otherwise(prev),
    }).drop(hit)


# ---------------------------------------------------------------------------
# mmrfc5424addhmac (contrib/mmrfc5424addhmac/mmrfc5424addhmac.c)
# ---------------------------------------------------------------------------


def hmac_sd_element(
    rawmsg: str | None,
    structured_data: str | None,
    key: bytes,
    algo: str,
    sd_id: str,
) -> str | None:
    """One message's new STRUCTURED-DATA, or None for keep-as-is.

    mmrfc5424addhmac.c doAction (:337-354): only RFC5424 messages
    without "our" SD-ID get hashed — the caller gates on
    protocol_version; the presence walk here is getSDID/skipSDID
    (:225-279): an SD-ID token ends at '=' / ' ' / ']' / '"', ']' is
    escapable with backslash. hashMsg (:317-334): HMAC(algo, key) over
    the RAW message, lowercase hex, appended as ``[<sd_id>
    hash="<hex>"]`` — MsgAddToStructuredData (runtime/msg.c:5205-5224)
    REPLACES an empty/"-" SD and string-appends otherwise (no
    separator).
    """
    import hashlib as _hashlib
    import hmac as _hmac

    sd = structured_data if structured_data is not None else "-"
    # isHmacPresent walk
    if sd[:1] != "-":
        i, n = 0, len(sd)
        while i < n:
            # getSDID
            if sd[i] != "[":
                i += 1
                token = ""
            else:
                i += 1
                j = i
                while j < n and sd[j] not in '= ]"':
                    j += 1
                token = sd[i:j]
                i = j
            if token == sd_id:
                return None  # already present: untouched
            # skipSDID: to just past the next unescaped ']'
            while i < n:
                if sd[i] == "]" and not (i > 0 and sd[i - 1] == "\\"):
                    i += 1
                    break
                i += 1
    digest = _hmac.new(
        key, (rawmsg or "").encode("utf-8"), getattr(_hashlib, algo)
    ).hexdigest()
    newsd = f'[{sd_id} hash="{digest}"]'
    if structured_data is None or structured_data[:1] == "-":
        return newsd
    return structured_data + newsd


def mm_rfc5424addhmac(
    df: DataFrame,
    key: str,
    hashfunction: str = "sha256",
    sd_id: str = "hmac@0",
    rawmsg_col: str = "rawmsg",
    sd_col: str = "structured_data",
    active: Column | None = None,
) -> DataFrame:
    """Append an HMAC-of-rawmsg SD element to RFC5424 messages
    (contrib/mmrfc5424addhmac/mmrfc5424addhmac.c, 382 LoC).

    Non-RFC5424 rows (protocol_version != 1) and rows already carrying
    ``sd_id`` pass through untouched (doAction gate :344-346). The
    digest name follows hashlib (sha1/sha256/sha512/md5... — the
    EVP_get_digestbyname surface); unknown names raise at plan build,
    the module's config-time abort.

    ``active`` is the routing-path gate: the UDF gets rawmsg only on
    on-path RFC5424 rows (a null rawmsg there hashes as ""); every
    other row crosses as nulls and keeps its structured data.
    """
    import hashlib as _hashlib

    algo = hashfunction.lower()
    if not hasattr(_hashlib, algo):
        raise ValueError(
            f"mmrfc5424addhmac: hash function {hashfunction!r} unknown "
            "(mmrfc5424addhmac.c:184-189 EVP_get_digestbyname check)"
        )
    kb = key.encode("utf-8")

    @F.pandas_udf("string")
    def _hm(raw: pd.Series, sd: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if r is None
                else hmac_sd_element(r, s, kb, algo, sd_id)
                for r, s in zip(raw, sd)
            ]
        )

    if active is None:
        active = F.lit(True)
    gate = active & (F.col("protocol_version") == 1)
    sd = F.col(sd_col)
    new_sd = _hm(
        F.when(gate, F.coalesce(F.col(rawmsg_col), F.lit(""))),
        F.when(gate, sd),
    )
    return df.withColumn(sd_col, F.coalesce(new_sd, sd))


# ---------------------------------------------------------------------------
# mmgrok (contrib/mmgrok/mmgrok.c) — grok front-end over the regex
# extraction machinery
# ---------------------------------------------------------------------------

# Common grok base patterns (the public logstash/grok core set, the
# primitives real mmgrok rulebases use). Inner captures are rewritten
# non-capturing at compile so field numbering stays stable.
GROK_BASE_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?[0-9]+",
    "BASE10NUM": r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)",
    "NUMBER": r"%{BASE10NUM}",
    "POSINT": r"\b[1-9][0-9]*\b",
    "NONNEGINT": r"\b[0-9]+\b",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "IPV4": (
        r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(?:\."
        r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}"
    ),
    "IPV6": (
        r"(?:(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,7}:"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,5}(?::[0-9A-Fa-f]{1,4}){1,2}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,4}(?::[0-9A-Fa-f]{1,4}){1,3}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,3}(?::[0-9A-Fa-f]{1,4}){1,4}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,2}(?::[0-9A-Fa-f]{1,4}){1,5}"
        r"|[0-9A-Fa-f]{1,4}:(?::[0-9A-Fa-f]{1,4}){1,6}"
        r"|:(?::[0-9A-Fa-f]{1,4}){1,7}|::)"
    ),
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": (
        r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}"
        r"(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b"
    ),
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "LOGLEVEL": (
        r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|"
        r"NOTICE|[Ii]nfo|INFO|[Ww]arn?(?:ing)?|WARN?(?:ING)?|"
        r"[Ee]rr?(?:or)?|ERR?(?:OR)?|[Cc]rit?(?:ical)?|CRIT?(?:ICAL)?|"
        r"[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|"
        r"[Ee]merg(?:ency)?)"
    ),
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "QS": r"%{QUOTEDSTRING}",
    "QUOTEDSTRING": (
        "(?:\"(?:[^\"\\\\]|\\\\.)*\"|'(?:[^'\\\\]|\\\\.)*')"
    ),
    "MONTH": (
        r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|"
        r"Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|"
        r"Nov(?:ember)?|Dec(?:ember)?)\b"
    ),
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "TIMESTAMP_ISO8601": (
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}"
        r"(?::?%{SECOND})?%{ISO8601_TIMEZONE}?"
    ),
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
}

_GROK_REF = None  # compiled lazily


def load_grok_patterns(path: str) -> dict[str, str]:
    """patterndir file -> {NAME: regex} (grok pattern-file format:
    'NAME<space>pattern' lines, #-comments)."""
    out: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line.strip() or line.lstrip().startswith("#"):
                continue
            name, _, pat = line.partition(" ")
            if not pat:
                raise ValueError(
                    f"mmgrok: bad pattern line in {path!r}: {line!r}"
                )
            out[name.strip()] = pat
    return out


def grok_compile(
    match: str,
    patterns: dict[str, str] | None = None,
    _depth: int = 0,
) -> tuple[str, list[tuple[str, int]]]:
    """Grok match expression -> (java regex, [(key, group_index)]).

    ``%{NAME}`` expands the named pattern (non-capturing);
    ``%{NAME:key}`` captures it under ``key``; ``%{NAME:key:type}``
    parses a type token that the reference then IGNORES when storing
    (mmgrok.c:252-276 walks it, smsg_to_json:224-227 stores the value
    string only) — kept ignored here for parity. Literal text between
    references is grok regex and passes through. Duplicate keys:
    last-wins (json_object_object_add replace semantics). Unknown
    pattern names / runaway recursion raise at compile (grok_compile
    failure — surfaced at config time rather than per message)."""
    import re as _re

    global _GROK_REF
    if _GROK_REF is None:
        _GROK_REF = _re.compile(r"%\{(\w+)(?::([^:}]+))?(?::([^}]+))?\}")
    if _depth > 20:
        raise ValueError("mmgrok: pattern recursion too deep (cycle?)")
    pats = {**GROK_BASE_PATTERNS, **(patterns or {})}
    keys: list[tuple[str, int]] = []
    group_counter = [0]

    def expand(text: str, depth: int, capturing: bool) -> str:
        out: list[str] = []
        pos = 0
        for m in _GROK_REF.finditer(text):
            out.append(text[pos:m.start()])
            name, key = m.group(1), m.group(2)
            if name not in pats:
                raise ValueError(
                    f"mmgrok: unknown grok pattern %{{{name}}} "
                    "(grok_compile failure, mmgrok.c:295-300)"
                )
            if depth > 20:
                raise ValueError(
                    "mmgrok: pattern recursion too deep (cycle?)"
                )
            inner = expand(pats[name], depth + 1, capturing=False)
            if key is not None and capturing:
                group_counter[0] += 1
                keys.append((key, group_counter[0]))
                out.append("(" + inner + ")")
            else:
                out.append("(?:" + inner + ")")
            pos = m.end()
        tail = text[pos:]
        # literal segments are grok regex; neutralize their capturing
        # groups so field numbering stays ours
        out.append(_noncapturing(tail))
        return "".join(out)

    regex = expand(match, _depth, capturing=True)
    # last-wins per key (json-c replace semantics)
    last: dict[str, int] = {}
    for k, g in keys:
        last[k] = g
    return regex, sorted(last.items(), key=lambda kv: kv[1])


def grok_map_expr(
    src: Column, regex: str, keys: list[tuple[str, int]]
) -> Column:
    """Apply a compiled grok to a (possibly multi-line) source column.

    doAction walk (mmgrok.c:330-352 + MotifyMessage:312-327): leading
    whitespace skipped, source split on newlines (strtok — empty lines
    vanish), grok SEARCHES each line (grok_exec is unanchored), and
    each matching line's captures are msgAddJSON'd to the target —
    which REPLACES the subtree, so the LAST matching line wins. NULL
    when no line matches (target never written). Pure column
    expressions: split + filter(rlike) + element_at(-1) +
    regexp_extract per field."""
    cleaned = F.regexp_replace(
        F.coalesce(src, F.lit("")), r"^[\s]+", ""
    )
    lines = F.filter(
        F.split(cleaned, "\n"),
        lambda x: (x != "") & x.rlike(regex),
    )
    chosen = F.try_element_at(lines, F.lit(-1))  # NULL when no line matched
    entries = []
    for key, grp in keys:
        entries.append(F.lit(key))
        entries.append(F.regexp_extract(chosen, regex, grp))
    return F.when(chosen.isNotNull(), F.create_map(*entries))


def mm_grok(
    df: DataFrame,
    match: str,
    target: str = "$!",
    patterns: dict[str, str] | None = None,
    source_col: str = "msg",
    vars_col: str = "vars",
    active: Column | None = None,
) -> DataFrame:
    """contrib/mmgrok: grok-parse MSG into the ``target`` subtree.

    DataFrame-level face of the Grok route statement; target accepts
    "$!x"/"!x"/"$.x" paths (msgAddJSON target). The C's ``source``
    action parameter is parsed but then OVERWRITTEN with the MSG
    pointer in doAction (mmgrok.c:336-346) — parity: the source is
    always the message column. ``active`` is the routing-path gate:
    off-path rows see a null source and keep their vars."""
    from rsyslog_spark.templates import var_key

    regex, keys = grok_compile(match, patterns)
    t = target if target.startswith("$") else "$" + target
    prefix = var_key(t)
    root = prefix in ("", ".")  # bare $! / $. roots
    if not root:
        prefix += "!"
    if active is None:
        active = F.lit(True)
    gm = grok_map_expr(F.when(active, F.col(source_col)), regex, keys)
    nc = f"_grok_{source_col}"
    df = df.withColumn(nc, gm)
    got = F.col(nc).isNotNull()
    prefixed = F.transform_keys(
        F.col(nc), lambda k, _: F.concat(F.lit(prefix), k)
    )
    if vars_col not in df.columns:
        df = df.withColumn(
            vars_col, F.create_map().cast("map<string,string>")
        )
    cur = F.col(vars_col)
    # msgAddJSON: a subtree target is REPLACED wholesale; a root
    # target replaces per incoming key
    if root:
        keep = F.map_filter(
            cur, lambda k, _: ~F.array_contains(F.map_keys(prefixed), k)
        )
    else:
        keep = F.map_filter(cur, lambda k, _: ~k.startswith(prefix))
    merged = F.map_concat(keep, prefixed)
    return df.withColumn(
        vars_col, F.when(got, merged).otherwise(cur)
    ).drop(nc)
