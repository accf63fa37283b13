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
patterns below; ``parse_ts3339`` is the pandas form of the timestamp
rule, used by the pmrfc3164 instance parser.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from rsyslog_spark.parse import fastre

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


def parse_ts3339(ts: pd.Series) -> pd.Series:
    """RFC3339 timestamp text -> datetime64[us] UTC-naive (NaT on fail).

    Reference: ParseTIMESTAMP3339, runtime/datetime.c:292. Offsets are
    normalized to UTC (the reference keeps the zone in struct syslogTime;
    our engine stores instants in UTC, session tz pinned to UTC).
    """
    g = fastre.extract(ts, _RE_TS3339)
    ok = g["y"].notna()
    out = pd.Series(pd.NaT, index=ts.index, dtype="datetime64[us]")
    if ok.any():
        frac = g.loc[ok, "frac"].fillna("")
        base = (
            g.loc[ok, "y"] + "-" + g.loc[ok, "mo"] + "-" + g.loc[ok, "d"]
            + " " + g.loc[ok, "hh"] + ":" + g.loc[ok, "mi"] + ":"
            + g.loc[ok, "sec"] + frac
        )
        parsed = pd.to_datetime(base, format="ISO8601", errors="coerce")
        zone = g.loc[ok, "zone"].str.upper()
        offs = pd.Series(pd.Timedelta(0), index=zone.index)
        has_off = zone != "Z"
        if has_off.any():
            sign = np.where(zone[has_off].str[0] == "-", -1, 1)
            hh = zone[has_off].str[1:3].astype(int)
            mm = zone[has_off].str[4:6].astype(int)
            offs[has_off] = pd.to_timedelta(sign * (hh * 60 + mm), unit="m")
            # offset ranges: hour 0-23, minute 0-59 (datetime.c:386-396)
            parsed[zone.index[has_off][(hh > 23) | (mm > 59)]] = pd.NaT
        out[ok] = (parsed - offs).astype("datetime64[us]")
    return out

