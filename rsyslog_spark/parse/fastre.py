"""Vectorized regex primitives: RE2 (pyarrow.compute) with pandas fallback.

pandas ``.str.extract`` compiles the pattern once but then runs a Python
function per row (object_array.py _str_extract) — ~4µs/row. Arrow's
``extract_regex`` is RE2 in C++ over the whole array (~0.2µs/row). The
pandas parsers (the pmrfc3164 instance parser, ``parse_ts3339``) call
through these helpers so their regexes run in native code; if pyarrow lacks a function (or a pattern falls outside RE2's regular
subset) we fall back to pandas transparently.

RE2 notes: no lookaround/backrefs — the parser patterns avoid both.
"""

from __future__ import annotations

import pandas as pd

try:  # pragma: no cover - import guard
    import pyarrow as pa
    import pyarrow.compute as pc

    _HAVE_ARROW = True
except ImportError:  # pragma: no cover
    _HAVE_ARROW = False

_RE2_OK: dict[str, bool] = {}


def _to_arrow(s: pd.Series):
    return pa.Array.from_pandas(s, type=pa.string())


def extract(s: pd.Series, pattern: str) -> pd.DataFrame:
    """``s.str.extract(pattern)`` equivalent (named groups only).

    Returns a DataFrame with one object column per named group; rows
    that don't match get NaN/None in every column.
    """
    if _HAVE_ARROW and _RE2_OK.get(pattern, True) and len(s):
        try:
            res = pc.extract_regex(_to_arrow(s), pattern)
        except pa.lib.ArrowInvalid:
            _RE2_OK[pattern] = False
        else:
            names = [f.name for f in res.type]
            # flatten() merges the struct's validity into the children —
            # res.field(i) would return "" for non-matching rows.
            # RE2 caveat vs python-re: a non-participating group in a
            # MATCHING row is "" (python: NaN) — callers must test
            # non-emptiness, not notna, to detect alternation branches.
            fields = res.flatten()
            cols = {
                name: fields[i].to_pandas().set_axis(s.index)
                for i, name in enumerate(names)
            }
            return pd.DataFrame(cols, index=s.index)
    return s.str.extract(pattern)


def matches(s: pd.Series, pattern: str) -> pd.Series:
    """``s.str.match(pattern)`` equivalent (anchored at start)."""
    anchored = pattern if pattern.startswith("^") else "^" + pattern
    if _HAVE_ARROW and _RE2_OK.get(anchored, True) and len(s):
        try:
            res = pc.match_substring_regex(_to_arrow(s), anchored)
        except pa.lib.ArrowInvalid:
            _RE2_OK[anchored] = False
        else:
            return res.to_pandas().set_axis(s.index).fillna(False)
    return s.str.match(pattern).fillna(False)

