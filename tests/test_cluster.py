"""Connected-components duplicate clustering (dataops/cluster.py).

Exact-label checks on known graphs plus a randomized differential test
against a pure-Python union-find — the same oracle philosophy as the
config-expression fuzzer (independent reimplementation, no Spark code
shared with the system under test).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from rsyslog_spark.dataops import cluster
from rsyslog_spark.dataops.cluster import connected_components, dup_clusters


def _plan(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _labels(spark, edges, threshold=1_000_000):
    df = spark.createDataFrame(edges, "a long, b long")
    return {
        r["node"]: r["component"]
        for r in connected_components(
            df, small_graph_threshold=threshold
        ).collect()
    }


def _uf_labels(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            parent.setdefault(find(a), find(a))
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


class TestConnectedComponents:
    def test_chain_star_pair(self, spark):
        cc = _labels(
            spark,
            [(2, 1), (2, 3), (3, 4), (10, 11), (10, 12), (13, 10),
             (20, 21), (21, 20)],
        )
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1,
                      10: 10, 11: 10, 12: 10, 13: 10,
                      20: 20, 21: 20}

    def test_long_chain_bridges_transitively(self, spark):
        # A~B, B~C, ... with no direct A~Z edge: the case pair-level
        # dedup cannot express — every node must still label to 0.
        # threshold=0 forces the ITERATIVE star path (worst case for
        # round count: a path graph needs the full O(log n) rounds)
        n = 40
        cc = _labels(spark, [(i, i + 1) for i in range(n)], threshold=0)
        assert set(cc.values()) == {0} and len(cc) == n + 1

    def test_self_loops_and_duplicate_edges_ignored(self, spark):
        cc = _labels(spark, [(5, 5), (6, 7), (7, 6), (6, 7)])
        assert cc == {6: 6, 7: 6}

    def test_random_graphs_match_union_find(self, spark):
        # BOTH engines: the r4 size-gated driver union-find fast path
        # (threshold default) and the iterative star rounds
        # (threshold=0) must agree with the reference union-find
        rng = random.Random(7)
        for trial in range(3):
            nodes = list(range(trial * 100, trial * 100 + 60))
            edges = [
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
            ]
            expected = {
                v: r for v, r in _uf_labels(edges).items()
                if any(a != b and v in (a, b) for a, b in edges)
            }
            got_fast = _labels(spark, edges)
            got_iter = _labels(spark, edges, threshold=0)
            assert got_fast == expected, f"trial {trial} fast"
            assert got_iter == expected, f"trial {trial} iterative"

    def _shape_rows(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (8, 9)], "a long, b long"
        )
        out = dup_clusters(pairs)
        rows = {
            (r["doc_id"], r["cluster_id"], r["csize"], r["keep"])
            for r in out.collect()
        }
        assert rows == {
            (1, 1, 3, True), (2, 1, 3, False), (3, 1, 3, False),
            (8, 8, 2, True), (9, 8, 2, False),
        }
        return out

    def test_dup_clusters_shape(self, spark):
        self._shape_rows(spark)

    def test_dup_clusters_iterative_branch(self, spark, monkeypatch):
        monkeypatch.setattr(cluster, "SMALL_GRAPH_THRESHOLD", 0)
        assert "LocalTableScan" not in _plan(self._shape_rows(spark))

    def test_small_path_is_local_table_scan(self, spark):
        # the labels come back JVM-local: no Python-RDD scan, and
        # dup_clusters takes csize/keep from the same labels (no join)
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
        for df in (connected_components(pairs), dup_clusters(pairs)):
            plan = _plan(df)
            assert "LocalTableScan" in plan, plan
            assert "ExistingRDD" not in plan and "Python" not in plan, plan
            assert "Join" not in plan, plan

    @pytest.mark.parametrize("threshold", [1_000_000, 0])
    def test_int_ids_stay_int(self, spark, threshold, monkeypatch):
        monkeypatch.setattr(cluster, "SMALL_GRAPH_THRESHOLD", threshold)
        pairs = spark.createDataFrame([(1, 2), (3, 2)], "a int, b int")
        cc = connected_components(pairs, small_graph_threshold=threshold)
        dc = dup_clusters(pairs)
        assert [f.dataType.simpleString() for f in cc.schema] == [
            "int", "int"]
        assert [f.dataType.simpleString() for f in dc.schema] == [
            "int", "int", "bigint", "boolean"]
        assert sorted(tuple(r) for r in dc.collect()) == [
            (1, 1, 3, True), (2, 1, 3, False), (3, 1, 3, False)]

    def test_threshold_boundary_branches_agree(self, spark):
        # 12 canonical edges behind reversed, duplicate and self-loop
        # rows: the gate counts CANONICAL edges, so threshold 12 stays
        # on the driver and 11 runs the star rounds
        edges = [(1, 2), (2, 3), (4, 3), (5, 6), (6, 7), (7, 8), (9, 10),
                 (11, 10), (12, 13), (13, 14), (14, 15), (20, 21),
                 (2, 1), (3, 2), (1, 2), (5, 5), (9, 9)]
        pairs = spark.createDataFrame(edges, "a long, b long")
        results = {}
        for threshold in (12, 11):
            cc = connected_components(pairs, small_graph_threshold=threshold)
            results[threshold] = (
                "LocalTableScan" in _plan(cc),
                {r["node"]: r["component"] for r in cc.collect()},
            )
        assert results[12][0] and not results[11][0]
        assert results[12][1] == results[11][1] == _uf_labels(
            [e for e in edges if e[0] != e[1]])

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "a long, b long")
        assert connected_components(pairs).count() == 0

    def test_no_cartesian_in_plan(self, spark):
        pairs = spark.createDataFrame([(1, 2)], "a long, b long")
        plan = connected_components(
            pairs, small_graph_threshold=0
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan

    def test_empty_pairs_iterative(self, spark):
        pairs = spark.createDataFrame([], "a long, b long")
        assert connected_components(
            pairs, small_graph_threshold=0
        ).count() == 0
