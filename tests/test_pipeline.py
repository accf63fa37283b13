"""End-to-end pipeline tests: routing fan-out, sinks, checkpoint/resume,
skew salting. Mirrors the reference's e2e style (inject -> route ->
verify per-sink sequence, tests/diag.sh seq_check)."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest
from pyspark.sql import functions as F

from rsyslog_spark.checkpoint import LineageLog, run_with_resume, with_partition_id
from rsyslog_spark.pipeline import SINK_SPECS, build_flagship, run_flagship
from rsyslog_spark.route import Action, If, RouteCompiler, Ruleset, Set, Stop, Unset
from rsyslog_spark.sinks import fan_out
from rsyslog_spark.skew import repartition_salted, with_salt

EXPECTED = {
    # derived from the generator classes (FIXTURES.md): 1000 rows at
    # sf0.001, 100 garbage (i%10==9), 900 parsed
    "parse_errors": 100,
    "archive": 900,
    "by_app": 900,
}


class TestFlagship:
    def test_per_sink_counts(self, transcripts, tmp_path):
        counts = run_flagship(transcripts, str(tmp_path / "sinks"))
        assert counts["parse_errors"] == EXPECTED["parse_errors"]
        assert counts["archive"] == EXPECTED["archive"]
        assert counts["by_app"] == EXPECTED["by_app"]
        # sev_high: parsed classes 0-7 with sev<=3 (class 8 rows get
        # default pri 13 -> sev 5)
        assert counts["sev_high"] == sum(
            1 for i in range(1000) if i % 10 <= 7 and i % 8 <= 3
        )
        assert counts["exec_audit"] == sum(
            1
            for i in range(1000)
            if i % 10 != 9 and i % 20 in (16, 17, 18) and i % 4 == 0
        )

    def test_fan_out_writes_match_counts(self, transcripts, tmp_path, spark):
        base = str(tmp_path / "sinks")
        counts = run_flagship(transcripts, base_path=base)
        assert sorted(counts) == sorted(SINK_SPECS)
        assert _disk_counts(spark, base, counts) == counts
        # dynafile sink partitions by programname (omfile dynafile ≡
        # partitionBy, tools/omfile.c:671): its count is the sum over
        # its partition directories
        parts = [p for p in os.listdir(f"{base}/by_app")
                 if p.startswith("programname=")]
        assert parts
        assert sum(spark.read.parquet(f"{base}/by_app/{p}").count()
                   for p in parts) == counts["by_app"]

    def test_stop_excludes_failed_rows_downstream(self, transcripts):
        annotated, actions = build_flagship(transcripts)
        archive = next(a for a in actions if a.sink == "archive")
        bad = annotated.filter(
            F.col(archive.pred_col) & ~F.col("parse_success")
        ).count()
        assert bad == 0


class TestFanOut:
    """fan_out writes each sink once, the union of its actions' rows,
    and returns the rows each write wrote."""

    def test_two_actions_one_sink(self, transcripts, tmp_path, spark):
        even = F.col("turn_idx") % 2 == 0
        odd = F.col("turn_idx") % 2 == 1
        rs = Ruleset("two", [If(even, then=[Action("same")]),
                             If(odd, then=[Action("same")])])
        ann, actions = RouteCompiler().add(rs).compile(transcripts, "two")
        base = str(tmp_path / "sinks")
        counts = fan_out(ann, actions, base)
        want = transcripts.agg(F.sum(even.cast("long") + odd.cast("long"))
                               ).first()[0]
        assert counts == {"same": want}
        assert _disk_counts(spark, base, counts) == counts

    def test_templated_and_raw_action_one_sink(self, parsed, tmp_path,
                                                spark):
        first = F.col("turn_idx") == 0
        rs = Ruleset("mix", [
            If(first, then=[Action("mixed", "RSYSLOG_TraditionalFileFormat")]),
            If(~first, then=[Action("mixed")]),
        ])
        ann, actions = RouteCompiler().add(rs).compile(parsed, "mix")
        base = str(tmp_path / "sinks")
        counts = fan_out(ann, actions, base)
        out = spark.read.parquet(f"{base}/mixed")
        assert {"line", "conv_id", "msg", "parse_success"} <= set(out.columns)
        n_line = parsed.filter(first).count()
        assert 0 < n_line < counts["mixed"] == parsed.count() == out.count()
        assert out.filter(F.col("line").isNotNull()).count() == n_line
        assert out.filter(F.col("conv_id").isNotNull()).count() == (
            counts["mixed"] - n_line)

    def test_suspended_sink_writes_empty_table(self, transcripts, tmp_path,
                                               spark):
        rs = Ruleset("fo", [Action("pri"),
                            Action("alt", exec_when_prev_suspended=True)])
        ann, actions = RouteCompiler(suspended_sinks={"pri"}).add(rs).compile(
            transcripts, "fo")
        base = str(tmp_path / "sinks")
        counts = fan_out(ann, actions, base)
        assert counts == {"pri": 0, "alt": transcripts.count()}
        assert _disk_counts(spark, base, counts) == counts


class TestRouteSemantics:
    def test_set_unset_and_call(self, spark):
        df = spark.createDataFrame(
            [(1, "x"), (2, "y")], "id int, v string"
        )
        rc = RouteCompiler()
        rc.add(
            Ruleset(
                "sub",
                [Set("$!from_sub", F.lit("yes"))],
            )
        )
        rc.add(
            Ruleset(
                "main",
                [
                    Set("$!tag", F.col("v")),
                    Set("$!tag", F.lit("nope")),  # no force_reset -> keep
                    If(
                        F.col("id") == 1,
                        then=[
                            __import__(
                                "rsyslog_spark.route", fromlist=["Call"]
                            ).Call("sub"),
                            Action("one"),
                            Stop(),
                        ],
                    ),
                    Unset("$!tag"),
                    Action("rest"),
                ],
            )
        )
        ann, actions = rc.compile(df, "main")
        rows = {r["id"]: r for r in ann.collect()}
        by_sink = {a.sink: a for a in actions}
        # row 1: hit 'one', stopped before 'rest'
        assert rows[1][by_sink["one"].pred_col]
        assert not rows[1][by_sink["rest"].pred_col]
        assert rows[2][by_sink["rest"].pred_col]
        # set-no-overwrite kept original; call-inlined set applied on row 1
        assert rows[1]["vars"]["from_sub"] == "yes"
        assert "from_sub" not in rows[2]["vars"]
        # unset ran only on non-stopped path (row 2)
        assert rows[1]["vars"]["tag"] == "x"
        assert "tag" not in rows[2]["vars"]


class TestCheckpoint:
    def test_resume_skips_committed(self, transcripts, tmp_path, spark):
        lineage = str(tmp_path / "lineage")
        writes = []

        def process(df):
            writes.append(df.count())

        r1 = run_with_resume(
            spark, transcripts, "run1", lineage, process, n_buckets=16
        )
        assert r1["processed_partitions"] > 0 and r1["skipped"] == 0
        r2 = run_with_resume(
            spark, transcripts, "run1", lineage, process, n_buckets=16
        )
        assert r2["processed_partitions"] == 0
        assert r2["skipped"] == r1["processed_partitions"]
        assert len(writes) == 1  # second run wrote nothing

    def test_partial_resume(self, transcripts, tmp_path, spark):
        lineage = str(tmp_path / "lineage2")
        log = LineageLog(spark, lineage)
        bucketed = with_partition_id(transcripts, n_buckets=16)
        # simulate a crashed run that committed only buckets < 8
        log.commit(bucketed.filter(F.col("partition_id") < 8), "runP")
        seen = []

        def process(df):
            seen.append(
                df.select("partition_id").distinct().count()
            )

        r = run_with_resume(
            spark, transcripts, "runP", lineage, process, n_buckets=16
        )
        assert r["skipped"] == 8
        assert r["processed_partitions"] == seen[0]
        # all 16 buckets now committed -> full resume is a no-op
        assert sorted(log.committed_partitions("runP")) == list(range(16))

    def test_resume_reads_lineage_once(self, transcripts, tmp_path, spark,
                                       monkeypatch):
        calls = []
        read = LineageLog.committed_partitions

        def counted(self, run_id):
            calls.append(run_id)
            return read(self, run_id)

        monkeypatch.setattr(LineageLog, "committed_partitions", counted)
        run_with_resume(spark, transcripts, "runO", str(tmp_path / "lineage"),
                        lambda df: None, n_buckets=4)
        assert calls == ["runO"]

    def test_resume_lineage_parse_failures_unknown(self, transcripts,
                                                   tmp_path, spark):
        """run_with_resume commits its raw bucketed input, which has no
        parse_success: the lineage says unknown (null), not a false 0,
        while the parse_errors sink holds the run's failures."""
        base = str(tmp_path / "sinks")
        lineage = str(tmp_path / "lineage")
        run_with_resume(
            spark, transcripts, "runU", lineage,
            lambda df: run_flagship(df, base, key="partition_id"),
            n_buckets=4,
        )
        assert spark.read.parquet(f"{base}/parse_errors").count() == 100
        pf = [r["parse_failures"] for r in spark.read.parquet(lineage).collect()]
        assert pf and all(v is None for v in pf)

    def test_resume_keeps_committed_sink_rows(self, transcripts, tmp_path,
                                              spark):
        """Buckets 0-7 of 16 written and committed, then a resume: every
        sink holds all of its rows, not only the resumed buckets'."""
        base = str(tmp_path / "sinks")
        lineage = str(tmp_path / "lineage")
        first = with_partition_id(transcripts, n_buckets=16).filter(
            F.col("partition_id") < 8)
        run_flagship(first, base, key="partition_id")
        LineageLog(spark, lineage).commit(first, "runR")
        r = run_with_resume(
            spark, transcripts, "runR", lineage,
            lambda df: run_flagship(df, base, key="partition_id"),
            n_buckets=16,
        )
        assert r == {"processed_partitions": 8, "skipped": 8}
        full = run_flagship(transcripts, str(tmp_path / "full"))
        assert _disk_counts(spark, base, full) == full

    def test_crash_before_commit_does_not_duplicate(self, transcripts,
                                                    tmp_path, spark):
        """A run that writes its buckets and dies before the lineage
        commit: the next run writes the same buckets again, and the sinks
        hold each row once."""
        base = str(tmp_path / "sinks")
        lineage = str(tmp_path / "lineage")
        first = with_partition_id(transcripts, n_buckets=16).filter(
            F.col("partition_id") < 8)
        run_flagship(first, base, key="partition_id")
        LineageLog(spark, lineage).commit(first, "runC")

        def crash(df):
            run_flagship(df, base, key="partition_id")
            raise RuntimeError("crash before the lineage commit")

        with pytest.raises(RuntimeError):
            run_with_resume(spark, transcripts, "runC", lineage, crash,
                            n_buckets=16)
        r = run_with_resume(
            spark, transcripts, "runC", lineage,
            lambda df: run_flagship(df, base, key="partition_id"),
            n_buckets=16,
        )
        assert r == {"processed_partitions": 8, "skipped": 8}
        full = run_flagship(transcripts, str(tmp_path / "full"))
        assert _disk_counts(spark, base, full) == full

    def test_lineage_carries_parse_failures(self, parsed, tmp_path, spark):
        lineage = str(tmp_path / "lineage3")
        log = LineageLog(spark, lineage)
        stats = log.commit(with_partition_id(parsed, n_buckets=4), "runF")
        total_pf = (
            spark.read.parquet(lineage)
            .agg(F.sum("parse_failures"))
            .first()[0]
        )
        assert total_pf == 100  # the i%10==9 garbage class


class TestFlagshipJob:
    def test_job_rerun_same_run_id(self, spark, transcripts, sf_test_dir,
                                   tmp_path, capsys):
        """jobs/flagship_job.py end to end, submitted twice with one run
        id: the second submission processes nothing and the sink tables
        on disk hold the full run's counts."""
        path = os.path.join(os.path.dirname(__file__), "..", "jobs",
                            "flagship_job.py")
        spec = importlib.util.spec_from_file_location("flagship_job", path)
        job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(job)
        out = str(tmp_path / "sinks")
        argv = ["--input", sf_test_dir, "--output", out,
                "--lineage", str(tmp_path / "lineage"), "--run-id", "job1",
                "--n-buckets", "16"]
        reports = []
        for _ in range(2):
            assert job.main(argv) == 0
            reports.append(json.loads(capsys.readouterr().out.splitlines()[-1]))
        full = run_flagship(transcripts, str(tmp_path / "full"))
        assert {k: full[k] for k in EXPECTED} == EXPECTED
        assert reports[0]["run"] == {"processed_partitions": 16, "skipped": 0}
        assert reports[0]["sink_counts"] == full
        assert reports[1]["run"] == {"processed_partitions": 0, "skipped": 16}
        assert _disk_counts(spark, out, full) == full


class TestDefaultCores:
    def test_affinity_capped_by_env(self, monkeypatch):
        from rsyslog_spark import session

        monkeypatch.setattr(session.os, "sched_getaffinity",
                            lambda pid: {0, 1, 2, 3})
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        assert session.default_cores() == 4
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
        assert session.default_cores() == 4
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
        assert session.default_cores() == 2


class TestSkew:
    def test_salt_bounded(self, transcripts):
        salted = with_salt(transcripts, buckets=8)
        mx = salted.agg(F.max("salt")).first()[0]
        assert 0 <= mx <= 7

    def test_repartition_preserves_rows(self, transcripts):
        out = repartition_salted(transcripts, buckets=8, num_partitions=16)
        assert out.count() == transcripts.count()


class TestFlagshipPlanShape:
    """Regression-pin the 100 TB plan properties (PERF.md audit)."""

    def test_flagship_plan(self, spark):
        from pyspark.sql import functions as F

        from rsyslog_spark.pipeline import build_flagship
        from rsyslog_spark.sources.transcripts import transcripts_spark

        t = transcripts_spark(spark, "/root/testdata/sf0.001")
        ann, actions = build_flagship(t)
        agg = ann.agg(
            F.count(F.lit(1)).alias("rows"),
            *[F.sum(F.col(a.pred_col).cast("long")) for a in actions],
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        # one Arrow crossing, broadcast-only joins, no quadratic shapes
        assert plan.count("MapInArrow") == 1
        assert plan.count("BroadcastHashJoin") == 2
        assert plan.count("SortMergeJoin") == 0
        assert plan.count("CartesianProduct") == 0
        assert plan.count("BroadcastNestedLoopJoin") == 0
        # raw text does not ride back through the barrier on this path
        assert "rawmsg" not in ann.columns
        # the plan that ran, above the transcript generator's own
        # shuffles: one crossing, the aggregate's one shuffle, the two
        # dimension joins and no Python eval node
        agg.collect()
        final = agg._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan ==")[0]
        (crossing,) = _subtrees(final, "MapInArrow")
        names = _node_names(final.replace(crossing, crossing.splitlines()[0]))
        assert [names.count(n) for n in (
            "MapInArrow", "Exchange", "BroadcastHashJoin",
        )] == [1, 1, 2], names
        assert not [n for n in names if "EvalPython" in n], names

    def test_one_projection_per_route_block(self, transcripts):
        """Above the role join the analyzed plan holds one Project each
        for the join's output, the nomatch defaults, the vars map, the
        routing conditions and the action predicates: the route
        compiler adds a straight-line run of statements as one
        projection of conditions and one of predicates, not one per
        statement."""
        ann, _ = build_flagship(transcripts)
        names = _node_names(ann._jdf.queryExecution().analyzed().toString())
        above = names[:names.index("Join")]
        assert set(above) == {"Project"} and len(above) <= 5, names

    def test_no_pins_without_rewrites(self, transcripts):
        """The flagship runs no rewriting statement, so no action pins
        a column and the annotated frame holds no pin column."""
        ann, actions = build_flagship(transcripts)
        assert not [c for c in ann.columns if c.startswith("_pin_")]
        assert not any(a.pins for a in actions)

    def test_count_plan_one_python_pass(self, spark, transcripts, tmp_path):
        """build_flagship's per-sink count plan over a stored table: the
        parse worker is the only Python in it, the dimension tables are
        JVM-local, and no regex runs in the JVM below the worker
        (sanitize and PRI run inside it)."""
        table = str(tmp_path / "transcripts")
        transcripts.write.parquet(table)
        ann, actions = build_flagship(spark.read.parquet(table))
        agg = ann.agg(*[F.sum(F.col(a.pred_col).cast("long")).alias(a.sink)
                        for a in actions])
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("MapInArrow") == 1
        exchanges = _subtrees(final, "BroadcastExchange")
        assert len(exchanges) == 2
        for sub in exchanges:
            assert "LocalTableScan" in sub and "ExistingRDD" not in sub, sub
        (below,) = _subtrees(final, "MapInArrow")
        for fn in ("RLIKE", "regexp_extract", "replace("):
            assert fn not in below, (fn, below)


def _disk_counts(spark, base: str, sinks) -> dict[str, int]:
    """Rows on disk in each named sink table under ``base``."""
    return {s: spark.read.parquet(f"{base}/{s}").count() for s in sinks}


def _node_names(plan: str) -> list[str]:
    """Node names of a tree-string plan, root first."""
    import re

    return re.findall(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?(\w+)", plan, re.M)


def _subtrees(plan: str, node: str) -> list[str]:
    """Text of each subtree of a tree-string plan whose root node is
    ``node``: the root line and the lines indented deeper than it."""
    import re

    lines = plan.splitlines()
    depth = [len(re.match(r"^[\s:|+\-]*", ln).group(0)) for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        if not re.match(rf"(\*\(\d+\) )?{node}\b", ln[depth[i]:]):
            continue
        j = i + 1
        while j < len(lines) and depth[j] > depth[i]:
            j += 1
        out.append("\n".join(lines[i:j]))
    return out
