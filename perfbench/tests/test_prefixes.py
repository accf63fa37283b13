"""Prefix guard: every workload at sf0.001 size, oracle check on, and each
traced prefix still runs its layer.

A prefix whose last layer Catalyst pruned would report ~0 s for that
layer; these tests fail instead.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

import layers
import run
import workloads
from harness import ROOT

ROWS = 1_000  # sf0.001 events
DOC_BASE = 50  # 500 documents, as many as sf0.001


@pytest.fixture(scope="module")
def transcripts(spark):
    return workloads.transcript_case(lambda: spark, seed=3, rows=ROWS)


@pytest.fixture(scope="module")
def documents():
    return workloads.document_case(seed=3, base=DOC_BASE)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_matches_oracle(spark, name):
    wl = workloads.WORKLOADS[name]
    size = DOC_BASE if name == "neardup_docs" else ROWS
    case = wl.prepare(lambda: spark, 3, size)
    wl.run(spark, case.warm)
    assert wl.check(case, wl.run(spark, case.path)) == []


def _prefix_runs(prefixes):
    return {name: fn() for name, fn in prefixes}


def test_flagship_prefixes_keep_their_layers(spark, transcripts):
    out = workloads.FlagshipSinks.out_dir()
    got = _prefix_runs(layers.flagship_prefixes(spark, transcripts, out))
    nodes = {k: layers.plan_nodes(df) for k, (df, _) in got.items() if df}
    assert "MapInArrow" not in nodes["sources"]
    assert "MapInArrow" in nodes["parse"]
    for k in ("lookup", "route"):
        assert "MapInArrow" in nodes[k]
        assert nodes[k].count("BroadcastHashJoin") == 2
    want = transcripts.expected["sinks"]
    assert got["route"][1] == want
    assert got["sinks"][1] == want
    assert workloads.written_rows(out, want) == want
    parse = got["parse"][1]
    assert parse["rfc3164"] + parse["rfc5424"] + parse["failed"] == ROWS
    assert parse["failed"] == want["parse_errors"]


def test_stream_backlog_matches_oracle(spark, transcripts):
    st = layers.stream_backlog(
        spark, transcripts, os.path.join(workloads.WORK, "stream-test"),
        run.STREAM_FILES_PER_TRIGGER)
    assert st["batches"] == (
        workloads.TRANSCRIPT_FILES // run.STREAM_FILES_PER_TRIGGER)
    assert st["jobs"] >= st["batches"] * len(workloads.SINKS)
    assert st["sinks"] == transcripts.expected["sinks"]


def test_neardup_prefixes_keep_their_stages(spark, documents):
    got = _prefix_runs(layers.neardup_prefixes(
        spark, documents, workloads.DUP_THRESHOLD))
    nodes = {k: layers.plan_nodes(df) for k, (df, _) in got.items()}
    assert "MapInPandas" in nodes["dedup.shingles"]
    for k in ("dedup.signatures", "dedup.candidates", "dedup.verify"):
        assert "MapInPandas" in nodes[k]
        assert "Exchange" in nodes[k]
    cand = got["dedup.candidates"][1]["pairs"]
    assert 0 < got["dedup.verify"][1]["pairs"] <= cand
    cl = got["cluster"][1]
    assert cl == {k: documents.expected[k] for k in ("labeled", "clusters")}


def test_seeds_change_inputs_not_proportions(spark, transcripts):
    import pyarrow.parquet as pq

    other = workloads.transcript_case(lambda: spark, seed=4, rows=ROWS)
    assert other.expected == transcripts.expected

    def ids(case):
        return pq.read_table(case.path, columns=["i"]).column("i").to_pylist()

    assert set(ids(other)).isdisjoint(ids(transcripts))
    a = workloads._documents(3, DOC_BASE)
    assert a == workloads._documents(3, DOC_BASE)
    assert a[1] != workloads._documents(4, DOC_BASE)[1]


def test_benchmark_json_names_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_probe_leaves_the_session_settings_as_it_found_them(spark):
    import harness

    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    before = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        assert harness.spark_probe(spark, 2) > 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert {k: spark.conf.get(k) for k in keys[1:]} == {
            k: before[k] for k in keys[1:]}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions",
                       before["spark.sql.shuffle.partitions"])
