"""Lookup table unit tests: JSON-file loading (reference table format),
registry miss/reload/stub semantics, sparse as-of edges."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from rsyslog_spark.lookup import LookupRegistry, LookupTable


def _probe(spark, col_expr, vals, typ="string"):
    df = spark.createDataFrame([(v,) for v in vals], f"k {typ}")
    return [r["out"] for r in df.select(col_expr.alias("out")).collect()]


class TestJsonFile:
    def test_reference_format(self, spark, tmp_path):
        # rsyslog lookup_table file shape (lookup.c:429-448)
        doc = {
            "version": 1,
            "nomatch": "unknown",
            "type": "string",
            "table": [
                {"index": "bash", "value": "exec"},
                {"index": "search", "value": "read"},
            ],
        }
        p = tmp_path / "tools.json"
        p.write_text(json.dumps(doc))
        t = LookupTable.from_json_file("tools", str(p))
        got = _probe(spark, t.lookup_expr(F.col("k")),
                     ["bash", "search", "nope"])
        assert got == ["exec", "read", "unknown"]


class TestRegistry:
    def test_missing_table_marker(self, spark):
        reg = LookupRegistry()
        got = _probe(spark, reg.lookup("nope", F.col("k")), ["x"])
        assert got == ["TABLE-NOT-FOUND"]

    def test_reload_and_stub(self, spark):
        reg = LookupRegistry().add(
            LookupTable("t", "string", {"a": "1"}, nomatch="nm")
        )
        reg.reload("t", LookupTable("t", "string", {"a": "2"}, nomatch="nm"))
        assert _probe(spark, reg.lookup("t", F.col("k")), ["a"]) == ["2"]
        # failed reload -> stubbed table returns the stub for every key
        # (lookup.h:28, lookupKey_stub lookup.c:306-309)
        reg.reload("t", None, stub="STUB")
        assert _probe(spark, reg.lookup("t", F.col("k")), ["a", "z"]) == [
            "STUB", "STUB"]


class TestSparseAsOf:
    def test_largest_leq_and_below_smallest(self, spark):
        t = LookupTable(
            "s", "sparseArray", {0: "low", 100: "mid", 500: "high"},
            nomatch="none",
        )
        got = _probe(
            spark, t.asof_expr(F.col("k")), [-5, 0, 99, 100, 499, 500, 10**9],
            typ="long",
        )
        assert got == ["none", "low", "low", "mid", "mid", "high", "high"]


class TestAsDataFrame:
    def test_jvm_local_relation(self, spark):
        # a LocalTableScan, not a scan of a Python RDD: joining or
        # broadcasting the table starts no Python worker
        for t in (LookupTable("tools", "string", {"bash": "exec", "x": "read"}),
                  LookupTable("sev", "sparseArray", {0: "low", 4: "high"})):
            df = t.as_dataframe(spark)
            assert sorted(tuple(r) for r in df.collect()) == sorted(
                (k, v) if t.kind == "sparseArray" else (str(k), v)
                for k, v in (t.mapping.items() if t.kind == "string"
                             else zip(t.keys, t.vals)))
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan
