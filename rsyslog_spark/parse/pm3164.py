"""Legacy RFC3164 parser, vectorized (reference: tools/pmrfc3164.c, 418 LoC).

Replicated control flow (pmrfc3164.c:180-382):

1. facility == LOG_FAC_INVLD (invalid PRI) -> do not parse a header at
   all; the whole text is MSG (pmrfc3164.c:190-193).
2. headerless detection: optional spaces/tabs then '{' or '[' -> whole
   text is MSG, hostname falls back to ``fromhost``, empty TAG
   (pmrfc3164.c:195-205).
3. timestamp: RFC3339 first, then RFC3164 ``Mmm [d]d hh:mm:ss``, then the
   HP-Procurve retry (leading space + RFC3164) (pmrfc3164.c:208-235).
   The timestamp parser consumes the timestamp plus one trailing SP
   delimiter (runtime/datetime.c ParseTIMESTAMP3164/3339 behavior).
4. hostname: char-walk over [A-Za-z0-9._-]; it is a hostname iff
   (a) it consumed the entire remainder, or (b) >=1 char was consumed AND
   the last consumed char is alphanumeric AND the next char is SP
   (pmrfc3164.c:267-325). Otherwise no hostname (-> ``fromhost``) and the
   same text is re-scanned as TAG. Because the char-walk is maximal-munch
   over one character class, both cases are exactly expressible as
   anchored regexes (a shorter match cannot be followed by SP, so greedy
   regex == C walk).
5. TAG: chars up to ':' or SP; a ':' is part of the TAG and consumed;
   an SP is NOT consumed — it stays in MSG ("a SP ... is CONTENT",
   pmrfc3164.c:327-366).
6. MSG: the rest.

RFC3164 timestamps carry no year: the year comes from reception time with
Dec/Jan boundary correction (runtime/datetime.c:465 ff.; same rule as
estimateYear, grammar/rainerscript.c:2620-2633).

Options (pmrfc3164.c:63-70) default off. The default chain is the
instance parser with every option off (``Pm3164Options()``,
pmrfc3164.c:104-110). Both run ``arrow_chain._rfc3164``: the default
chain through ``parse_chain_arrow``, and ``parser(type="pmrfc3164" ...)``
instances through ``chain_custom`` with their ``Pm3164Options``. The
pandas instance parser in ``tests/parse_reference.py`` is its
differential test reference. The options:

- permit.squareBracketsInHostname / permit.slashesInHostname /
  permit.AtSignsInHostname — hostname char-walk extensions
  (pmrfc3164.c:267-325; e2e goldens pmrfc3164-AtSignsInHostname(_off),
  hostname-with-slash-pmrfc3164.sh);
- force.tagEndingByColon — a TAG not ended by ':' becomes '-' and the
  scan text returns to MSG with the C's exact ``p2parse -= (i+1)``
  restore (one char PAST the TAG start — the pre-TAG delimiter char
  re-enters MSG, pmrfc3164.c:350-360; e2e pmrfc3164-tagEndingByColon);
- remove.msgFirstSpace — one leading MSG space dropped at finalize, on
  EVERY path including headerless/invalid-facility early-FINALIZE
  (pmrfc3164.c:375-380; e2e pmrfc3164-msgFirstSpace);
- detect.YearAfterTimestamp — ``Mmm dd hh:mm:ss YYYY`` with
  2000<=YYYY<2100 followed by SP-or-end (datetime.c:744-759).

Every instance, the default chain included, models ParseTIMESTAMP3164's
UNGATED year forms (datetime.c:497-507 prepended ``YYYY Mmm dd ...``
for 1970..2100, :678-690 year-in-hour-position ``Mmm dd YYYY hh:mm:ss``
for 1971..2099) and the
tolerated extra ':' right after the timestamp (:761-768).

``require_header`` is an EXTENSION of the default chain (not in the
reference): when set, a message with neither a PRI ``<`` prefix nor a
parsable timestamp nor a headerless-JSON shape is REJECTED
(COULD_NOT_PARSE), so the chain's discard path (runtime/parser.c:
679-687) is exercisable; the stock reference pmrfc3164 never returns
COULD_NOT_PARSE.
"""

from __future__ import annotations

from dataclasses import dataclass

from rsyslog_spark.parse.pm5424 import _RE_TS3339

_MONTHS = "Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec"

_RE_TS3339_BODY = _RE_TS3339[1:-1]  # strip ^ $ anchors
_RE_TS3339_HEAD = rf"^(?P<all>{_RE_TS3339_BODY})(?:$| (?P<rest>[\s\S]*)$)"

# TAG up to ':' (consumed, kept in TAG) or SP (not consumed -> MSG)
_RE_TAG = r"^(?P<tag>[^: ]*)(?P<colon>:?)(?P<mrest>[\s\S]*)$"


@dataclass(frozen=True)
class Pm3164Options:
    """parser(type="pmrfc3164") instance options (pmrfc3164.c:63-70).
    All default off, exactly like setInstParamDefaults (:104-110)."""
    detect_year_after_timestamp: bool = False
    permit_square_brackets_in_hostname: bool = False
    permit_slashes_in_hostname: bool = False
    permit_at_signs_in_hostname: bool = False
    force_tag_ending_by_colon: bool = False
    remove_msg_first_space: bool = False


def _ts3164_re_ext(hp: bool, detect_year_after: bool) -> str:
    """The 3164 timestamp regex: ``Mmm [d]d hh:mm:ss`` plus the ungated
    year forms + tolerated-colon of ParseTIMESTAMP3164.

    Group semantics (range-checked by ``arrow_chain._ts3164``):
    ``pyear`` = digits before the month (datetime.c:497-507, any digit
    run — range-checked 1970..2100, invalid -> whole match void);
    ``myear`` = 4 digits in the hour position (:678-690, 1971..2099,
    void if pyear also present); ``ayear``/``xcolon`` = optional
    ``SP YYYY`` after the time + the tolerated ':' (:744-768) — the
    regex's own tail (``:`` / SP / end) enforces the C's
    followed-by-space-or-end gate without lookahead (RE2 has none)."""
    ayear = r"(?P<ayear> \d{4})?" if detect_year_after else ""
    return (
        ("^ " if hp else "^")
        + r"(?:(?P<pyear>\d+) )?"
        + rf"(?P<mon>{_MONTHS}) (?P<day> ?\d|\d\d)"
        + r"(?: (?P<myear>\d{4}))?"
        + r" (?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})"
        + ayear
        + r"(?P<xcolon>:?)"
        + r"(?:$| (?P<rest>[\s\S]*)$)"
    )


def _host_re_ext(opts: Pm3164Options) -> str:
    """The hostname heuristic (point 4 above) as ONE alternation: the
    entire remainder is host, OR host with alnum last char followed by
    SP; over the option-extended char class (pmrfc3164.c:278-284), with
    the square-bracket walk (:270-324). Bracket branches first (the C checks '[' before the
    main walk): ``bfull`` = '[' + chars consuming the whole remainder
    (no ']' seen — the break/append path never ran, :291-298);
    ``bsp`` = '[' chars ']' SP (first ']' appended by the else branch,
    next char must be SP, :302-314; 1+ inner chars — an empty '[]'
    fails the C's post-loop checks)."""
    cls = "A-Za-z0-9._\\-"
    if opts.permit_at_signs_in_hostname:
        cls += "@"
    if opts.permit_slashes_in_hostname:
        cls += "/"
    alts = []
    if opts.permit_square_brackets_in_hostname:
        alts += [
            rf"(?P<bfull>\[[{cls}]*)$",
            rf"(?P<bsp>\[[{cls}]+\]) (?P<brest>[\s\S]*)$",
        ]
    alts += [
        rf"(?P<hfull>[{cls}]+)$",
        rf"(?P<hsp>[{cls}]*[A-Za-z0-9]) (?P<hrest>[\s\S]*)$",
    ]
    return "^(?:" + "|".join(alts) + ")"
