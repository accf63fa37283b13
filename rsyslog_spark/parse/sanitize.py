"""Message sanitization (SanitizeMsg, runtime/parser.c:379-570).

Semantics replicated (defaults as in the reference):

- drop ONE trailing NUL byte (parser.c:404-408)
- then drop ONE trailing LF (parser.c:415-421); bDropTrailingLF default on
- escape control characters (``iscntrl``: 0x00-0x1f and DEL 0x7f) as
  '#' + 3-digit OCTAL of the char code (parser.c:489-535, default mode
  with cCCEscapeChar '#'; DEL -> '#177'); TAB is a
  control char and is escaped too, and so is a NUL that is not the
  last byte (the reference escapes '\\0' whatever the escape setting).
- 8-bit escaping and LF->space rewriting are off by default -> not applied.

"Trailing" means the last character of the text. RE2's ``$`` (no
multi-line flag) matches only there; Java's ``$`` also matches before a
final line terminator, which would drop both LFs of ``"x\\n\\n"``.

One implementation, ``sanitize_arrow``, runs inside the parse worker
(``with_parsed``), where the text already is an Arrow array;
``with_sanitized`` runs the same function as a scalar Arrow UDF. Like
the reference's first sweep (clean messages are left alone), one RE2
pass marks the rows that hold a control character, and only those rows
are stripped and escaped.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# iscntrl(): 0x00-0x1f and DEL (0x7f)
_CTRL_RE = r"[\x00-\x1f\x7f]"
# control char c -> '#%03o' % c (parser.c:528-534, octal mode with '#')
_ESCAPES = [(chr(c), "#%03o" % c) for c in [*range(0x20), 0x7f]]


def sanitize_arrow(raw: pa.Array) -> pa.Array:
    """SanitizeMsg over an Arrow string array; nulls stay null.

    A row without control chars is the identity: it has no trailing
    NUL/LF either (both are control chars)."""
    raw = raw.cast(pa.string())
    dirty = pc.fill_null(pc.match_substring_regex(raw, _CTRL_RE), False)
    if not pc.any(dirty).as_py():
        return raw
    s = pc.filter(raw, dirty)
    s = pc.replace_substring_regex(s, r"\x00$", "")
    s = pc.replace_substring_regex(s, r"\n$", "")
    for c, esc in _ESCAPES:
        s = pc.replace_substring(s, c, esc)
    return pc.replace_with_mask(raw, dirty, s)


_sanitize_udf = F.arrow_udf(sanitize_arrow, StringType())


def with_sanitized(
    df: DataFrame, raw_col: str = "text", out: str = "rawmsg"
) -> DataFrame:
    """Add the sanitized ``rawmsg`` column (the canonical raw message:
    msg.h:79 pszRawMsg is stored *after* sanitization)."""
    return df.withColumn(out, _sanitize_udf(F.col(raw_col)))
