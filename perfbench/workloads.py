"""The benchmark's workloads: seeded inputs, DuckDB expectations, and the
one call each run times.

Inputs are generated outside the timed region and cached per seed under
``WORK/inputs``. The program sees only the generated tables:

- transcripts: ``events.parquet`` whose ``event_id`` is the row index
  ``i``, offset by the seed, fed through ``transcripts_spark`` and
  materialized to a 16-file parquet table (the stored-table shape the
  flagship reads in production);
- documents: a fixed base corpus of the sf0.1 documents' shape,
  replicated in families of exact copies; each family's text is
  Caesar-shifted, and the seed offsets the shifts, so families share no
  shingles and every seed hashes differently.

Expected results come from the repo's DuckDB oracle SQL
(``__spark_entry__.oracle_sql()``, built on ``rsyslog_spark.oracle``)
and are computed once per seed.
"""

from __future__ import annotations

import json
import os
import shutil

from harness import WORK

SINKS = ("parse_errors", "sev_high", "exec_audit", "by_app", "archive")
# per-sink counts depend on i mod 40, so a multiple of 40 rows gives
# every seed the same per-sink proportions
FLAGSHIP_ROWS = 200_000
TRANSCRIPT_FILES = 16
# 1,500 base documents, replicated as one family of 2 exact copies
# (tools/scale_rehearsal.py with replicas=2, dup_factor=2)
DOC_BASE = 1500
DOC_REPLICAS = 2
DOC_COPIES = 2  # exact copies per family -> DOC_REPLICAS / DOC_COPIES families
# the warm-up corpus: same plan shape, 2% of the base documents
WARM_DOC_BASE = 30
# the verify threshold of __spark_entry__.q_dup_clusters, which the
# dup_clusters oracle SQL mirrors
DUP_THRESHOLD = 0.05

# the sf0.1 documents' vocabulary: 30 words drawn uniformly; "dup" ends
# each near-duplicate
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_DUP_FRAC = 0.05  # as in sf0.1: 250 of its 5,000 documents
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _duck_expect(sql: str, views: dict[str, str]) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _oracle_sql(name: str) -> str:
    import __spark_entry__

    return __spark_entry__.oracle_sql()[name]


class Case:
    """One workload's prepared input and its expected results.

    ``path`` is what set-up's warm-up and the timed runs read; ``warm``
    is a smaller input of the same shape, for warming a side path (the
    traced sink writes, the 1-core calibration) without a full run."""

    def __init__(self, path: str, warm: str, rows: int, expected: dict):
        self.path = path
        self.warm = warm
        self.rows = rows
        self.expected = expected


def transcript_case(session, seed: int, rows: int) -> Case:
    """Seeded transcript table plus the oracle's per-sink counts;
    ``warm`` is one of the table's files. ``session()`` returns the
    SparkSession that writes the table; it is called only when the
    table is not cached yet."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rsyslog_spark.sources.transcripts import transcripts_spark

    d = os.path.join(WORK, "inputs", f"transcripts-{rows}-{seed}")
    done = os.path.join(d, "expected.json")
    table = os.path.join(d, "transcripts")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        # msgnum renders i in 8 digits: keep every offset row below 1e8
        offset = (seed % (10**8 // rows - 1)) * rows
        ev = pa.table({"event_id": pa.array(
            np.arange(offset, offset + rows, dtype=np.int64))})
        pq.write_table(ev, os.path.join(d, "events.parquet"))
        transcripts_spark(session(), d).repartition(TRANSCRIPT_FILES).write.parquet(
            table)
        got = _duck_expect(_oracle_sql("route_sink_counts"),
                           {"events": os.path.join(d, "events.parquet")})
        _write_json(done, {"rows": rows, "sinks": {s: n for s, n in got}})
    with open(done) as f:
        exp = json.load(f)
    first = min(n for n in os.listdir(table) if n.endswith(".parquet"))
    return Case(table, os.path.join(table, first), exp["rows"], exp)


def _documents(seed: int, base: int):
    """doc_id/text/lang columns of the replicated near-dup corpus."""
    import numpy as np

    rng = np.random.default_rng(20241005)  # the base corpus is fixed
    # sf0.1's shape: 10-99 tokens, each drawn uniformly from the
    # vocabulary; 5% of the documents are a copy of a random other one
    # plus " dup"
    texts = [" ".join(_VOCAB[k] for k in rng.integers(
        0, len(_VOCAB), int(rng.integers(10, 100)))) for _ in range(base)]
    for j in np.flatnonzero(rng.random(base) < DOC_DUP_FRAC):
        texts[j] = texts[int(rng.integers(0, base))] + " dup"
    ids, out, langs = [], [], []
    for r in range(DOC_REPLICAS):
        shift = (seed + r // DOC_COPIES) % len(_ALPHA)
        table = str.maketrans(_ALPHA, _ALPHA[shift:] + _ALPHA[:shift])
        for j, t in enumerate(texts):
            ids.append(r * 10_000_000 + j)
            out.append(t.translate(table))
            langs.append("en")
    return ids, out, langs


def _write_documents(path: str, seed: int, base: int) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts, langs = _documents(seed, base)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    }), path)
    return len(ids)


def document_case(seed: int, base: int) -> Case:
    """Seeded document corpus plus the oracle's dup_clusters counts."""
    d = os.path.join(WORK, "inputs", f"documents-{base}-{seed}")
    done = os.path.join(d, "expected.json")
    path = os.path.join(d, "documents.parquet")
    warm = os.path.join(d, "warmup.parquet")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        rows = _write_documents(path, seed, base)
        _write_documents(warm, seed, WARM_DOC_BASE)
        sql = _oracle_sql("dup_clusters")
        (labeled, clusters), = _duck_expect(
            f"SELECT count(*), count(DISTINCT cluster_id) FROM ({sql})",
            {"documents": path})
        _write_json(done, {"rows": rows, "labeled": labeled,
                           "clusters": clusters})
    with open(done) as f:
        exp = json.load(f)
    return Case(path, warm, exp["rows"], exp)


def mismatches(got: dict, want: dict) -> list[str]:
    return [f"{k}: got {got.get(k)} want {v}" for k, v in want.items()
            if got.get(k) != v]


class FlagshipCounts:
    """build_flagship over the stored table, aggregated to per-sink counts."""

    name = "flagship_counts"
    size = FLAGSHIP_ROWS

    def prepare(self, session, seed: int, size: int) -> Case:
        return transcript_case(session, seed, size)

    def run(self, spark, path: str) -> dict:
        from pyspark.sql import functions as F

        from rsyslog_spark.pipeline import build_flagship

        ann, actions = build_flagship(spark.read.parquet(path))
        row = ann.agg(
            F.count(F.lit(1)).alias("rows"),
            *[F.sum(F.col(a.pred_col).cast("long")).alias(a.sink)
              for a in actions],
        ).collect()[0]
        return row.asDict()

    def check(self, case: Case, out: dict) -> list[str]:
        return mismatches(out, {"rows": case.rows, **case.expected["sinks"]})


class FlagshipSinks(FlagshipCounts):
    """run_flagship writing all five sink tables; checked by reading the
    tables back from disk."""

    name = "flagship_sinks"

    @staticmethod
    def out_dir() -> str:
        return os.path.join(WORK, "out", "flagship_sinks")

    def run(self, spark, path: str) -> dict:
        from rsyslog_spark.pipeline import run_flagship

        return run_flagship(spark.read.parquet(path), base_path=self.out_dir())

    def check(self, case: Case, out: dict) -> list[str]:
        want = case.expected["sinks"]
        on_disk = written_rows(self.out_dir(), want)
        return mismatches(out, want) + [f"on disk {m}" for m in mismatches(on_disk, want)]


def written_rows(out_dir: str, sinks) -> dict[str, int]:
    """Rows of each sink table as stored on disk (parquet footers)."""
    import pyarrow.dataset as ds

    return {s: ds.dataset(os.path.join(out_dir, s), format="parquet",
                          partitioning="hive").count_rows() for s in sinks}


class NeardupDocs:
    """shingles -> signatures -> candidates -> verify -> dup_clusters, the
    chain of ``__spark_entry__.q_dup_clusters``."""

    name = "neardup_docs"
    size = DOC_BASE

    def prepare(self, session, seed: int, size: int) -> Case:
        return document_case(seed, size)

    def run(self, spark, path: str) -> dict:
        from pyspark.sql import functions as F

        from rsyslog_spark.dataops.cluster import dup_clusters
        from rsyslog_spark.dataops.dedup import (
            jaccard_pairs,
            minhash_candidate_pairs,
            minhash_signatures,
            shingles,
        )

        sh = shingles(spark.read.parquet(path)).persist()
        try:
            pairs = jaccard_pairs(
                sh, pairs=minhash_candidate_pairs(minhash_signatures(sh)),
                threshold=DUP_THRESHOLD)
            row = dup_clusters(pairs).agg(
                F.count(F.lit(1)).alias("labeled"),
                F.countDistinct("cluster_id").alias("clusters"),
            ).collect()[0]
        finally:
            sh.unpersist()
        return row.asDict()

    def check(self, case: Case, out: dict) -> list[str]:
        return mismatches(out, {k: case.expected[k] for k in ("labeled", "clusters")})


WORKLOADS = {w.name: w for w in (FlagshipCounts(), FlagshipSinks(), NeardupDocs())}
