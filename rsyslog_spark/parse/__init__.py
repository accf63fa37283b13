"""Parsing operators: PRI decode, RFC5424/RFC3164 header parsers, sanitize,
message-modification transforms, and the parser-chain driver."""

from rsyslog_spark.parse.pri import with_pri
from rsyslog_spark.parse.chain import with_parsed

__all__ = ["with_pri", "with_parsed"]
