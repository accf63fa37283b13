"""The flagship parse -> enrich -> route -> aggregate pipeline.

This is the end-to-end composition mandated by the north rule: transcript
table -> sanitize/PRI/parser-chain -> broadcast enrichment (tool/role
dims) -> ruleset routing (multicast-with-stop, FIXTURES.md §5 config) ->
fan-out sinks with exact per-sink counts + parse-failure metrics.

The ruleset mirrors a classic rsyslog config (semantics per
runtime/ruleset.c:577-636):

    ruleset "flagship":
      if not parse_success   then { action(parse_errors); stop }
      if syslogseverity <= 3 then   action(sev_high, TraditionalFF)
      if role == 'tool' and tool_class == 'exec'
                             then   action(exec_audit)
      if msg contains 'msgnum' then action(by_app)   # dynafile by programname
      action(archive, TraditionalFileFormat)         # catch-all
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rsyslog_spark.lookup import enrich_join, local_table
from rsyslog_spark.parse import with_parsed
from rsyslog_spark.route import Action, If, PropFilt, RouteCompiler, Ruleset, Stop
from rsyslog_spark.sinks import SinkSpec, fan_out

# tool/role dimension data (FIXTURES.md §2-3)
TOOL_DIM = [
    ("", "none", 0),
    ("bash", "exec", 3),
    ("search", "read", 1),
    ("editor", "write", 2),
    ("browser", "read", 1),
    ("python", "exec", 3),
    ("fetch", "read", 1),
    ("unused", "none", 0),
]
ROLE_DIM = [
    ("user", "ingress"),
    ("assistant", "egress"),
    ("tool", "exec"),
    ("system", "control"),
]


# constant dimensions: one JVM-local table per session, not per build
@functools.cache
def tool_dim_df(spark: SparkSession) -> DataFrame:
    return local_table(spark, TOOL_DIM, "tool string, tool_class string, risk int")


@functools.cache
def role_dim_df(spark: SparkSession) -> DataFrame:
    return local_table(spark, ROLE_DIM, "role string, sink_group string")


def flagship_ruleset() -> Ruleset:
    return Ruleset(
        "flagship",
        [
            If(
                ~F.col("parse_success"),
                then=[Action("parse_errors"), Stop()],
            ),
            If(
                F.col("syslogseverity") <= 3,
                then=[Action("sev_high", "RSYSLOG_TraditionalFileFormat")],
            ),
            If(
                (F.col("role") == "tool") & (F.col("tool_class") == "exec"),
                then=[Action("exec_audit")],
            ),
            PropFilt(
                "msg", "contains", "msgnum",
                then=[Action("by_app")],
            ),
            Action("archive", "RSYSLOG_TraditionalFileFormat"),
        ],
    )


SINK_SPECS = {
    "by_app": SinkSpec("by_app", partition_by=["programname"]),  # dynafile
    "archive": SinkSpec("archive"),
    "sev_high": SinkSpec("sev_high"),
    "exec_audit": SinkSpec("exec_audit"),
    "parse_errors": SinkSpec("parse_errors"),
}


def build_flagship(
    transcripts: DataFrame,
) -> tuple[DataFrame, list]:
    """Parse + enrich + compile routing. Returns (annotated, actions)."""
    spark = transcripts.sparkSession
    # keep_raw=False: no downstream consumer (predicates, templates,
    # sinks) reads rawmsg — the raw text crosses the Arrow boundary
    # once inbound and never comes back (see with_parsed)
    parsed = with_parsed(transcripts, require_header=True, keep_raw=False)
    enriched = enrich_join(
        parsed,
        tool_dim_df(spark),
        on="tool",
        nomatch={"tool_class": "unknown", "risk": "0"},
    )
    enriched = enrich_join(enriched, role_dim_df(spark), on="role",
                           nomatch={"sink_group": "unknown"})
    rc = RouteCompiler().add(flagship_ruleset())
    return rc.compile(enriched, "flagship")


def run_flagship(
    transcripts: DataFrame,
    base_path: str,
    key: str | None = None,
) -> dict[str, int]:
    """Execute the flagship pipeline: write each sink table under
    ``base_path``, idempotently per ``key`` value when set (see
    ``sinks.fan_out``). Returns the rows written per sink."""
    annotated, actions = build_flagship(transcripts)
    return fan_out(annotated, actions, base_path, SINK_SPECS, key=key)
