"""RFC5424 header parser, vectorized (reference: tools/pmrfc5424.c, 329 LoC).

Semantics:

- Accepts only if the text after PRI starts with ``"1 "`` (version guard,
  pmrfc5424.c:224-226); otherwise returns COULD_NOT_PARSE and the chain
  falls through to the legacy parser (runtime/parser.c:654-672).
- TIMESTAMP HOSTNAME APP-NAME PROCID MSGID are SP-terminated tokens
  (parseRFCField, pmrfc5424.c:80-108); ``-`` is the nil value and is kept
  verbatim (the reference stores the literal token).
- STRUCTURED-DATA is either ``-`` or one-or-more bracket-balanced
  ``[...]`` groups honoring backslash escapes (``\\]`` does not close);
  it is kept as a RAW string, never parsed inside
  (parseRFCStructuredData, pmrfc5424.c:123-193 and note at :111-122).
- MSG is everything after the SP following SD (pmrfc5424.c:292).
- TIMESTAMP ``-`` means "use reception time" (pmrfc5424.c:247-250).
- TAG is emulated as ``APP-NAME[PROCID]``, or bare APP-NAME when PROCID
  is ``-`` (tryEmulateTAG, runtime/msg.c:2482-2514).

The default chain runs these rules in ``arrow_chain._rfc5424`` with the
patterns below, and ``arrow_chain._rfc3164`` reads an RFC3339 timestamp
with ``_RE_TS3339`` too.
"""

from __future__ import annotations

# header + SD + optional MSG, in one extract.  SD group: '-' or 1+
# bracket groups where the interior allows any escaped char.
_RE_5424 = (
    r"^1 (?P<ts>\S+) (?P<host>\S+) (?P<app>\S+) (?P<procid>\S+) "
    r"(?P<msgid>\S+) (?P<sd>-|(?:\[(?:[^\]\\]|\\.)*\])+)(?: (?P<msg>[\s\S]*))?$"
)

_RE_TS3339 = (
    r"^(?P<y>\d{4})-(?P<mo>\d{2})-(?P<d>\d{2})[Tt](?P<hh>\d{2}):"
    r"(?P<mi>\d{2}):(?P<sec>\d{2})(?P<frac>\.\d+)?"
    r"(?P<zone>[Zz]|[+-]\d{2}:\d{2})$"
)

