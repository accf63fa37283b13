"""sf1 scale rehearsal (r3 verdict #4): run the heaviest operators at
10x the sf0.1 data on this box and record wall time, JVM peak RSS, and
plan health — one order of magnitude of empirical headroom for the
100x plan-shape claims.

Corpus: sf0.1 documents replicated REPLICAS times with distinct doc_id
ranges (exact duplicate text across replicas — the adversarial case
for dedup: every LSH bucket carries REPLICAS-fold collisions and the
clusterer sees 5k clusters of size REPLICAS). Transcripts: the bench's
materialized 30x table (3M rows) for flagship.

Usage: python tools/scale_rehearsal.py [replicas] [dup_factor]

Runs on ``local[min(nproc, SPARK_GRAFT_CPUS)]`` (all usable cores when
SPARK_GRAFT_CPUS is unset) and records the core count as ``cores``.
``per_pair_ms`` is the ``minhash_pairs`` wall time per verified pair.

``dup_factor`` (default = replicas) caps the duplication multiplicity:
replica i's text is Caesar-shifted by ``i // dup_factor`` alphabet
positions, so each variant family shares ZERO shingles with the others
(a one-token suffix is NOT enough — 97% shingle overlap keeps all 100
replicas LSH-colliding) while every text inside a family has exactly
``dup_factor`` exact copies. r5 finding: at replicas=100 with FULL
100-fold duplication the exact-Jaccard verify join must shuffle ~24.7M
candidate pairs x ~100 shingles each — past this sandbox's ~80 GB free
disk (No space left on device, stage 35). The production mitigation is
the engine's own exact-dedup pre-pass (dedup_exact collapses 100
copies to 1 before near-dup ever runs); for the rehearsal, dup_factor
keeps the duplication adversarial while scaling PAIR volume by the
intended decade.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPLICAS = int(sys.argv[1]) if len(sys.argv) > 1 else 10
DUP_FACTOR = int(sys.argv[2]) if len(sys.argv) > 2 else REPLICAS
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def jvm_peak_rss_gb() -> float:
    """VmHWM of the single local-mode JVM (child java process)."""
    import subprocess

    try:
        pids = subprocess.run(
            ["pgrep", "-f", "java.*spark"], capture_output=True, text=True
        ).stdout.split()
        peak = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM"):
                        peak = max(peak, int(line.split()[1]))
        return round(peak / 1024 / 1024, 2)
    except Exception:
        return -1.0


def main():
    from rsyslog_spark.session import default_cores, get_spark

    cores = default_cores()
    spark = get_spark(cores=cores)
    out = {"replicas": REPLICAS, "sf_base": SF_DIR, "cores": cores}

    out["dup_factor"] = DUP_FACTOR
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs = None
    alpha = "abcdefghijklmnopqrstuvwxyz"
    for i in range(REPLICAS):
        v = i // DUP_FACTOR
        text = (
            F.col("text")
            if v == 0
            else F.translate(
                F.col("text"), alpha, alpha[v:] + alpha[:v]
            )
        )
        part = base.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            "lang", text.alias("text"),
        )
        docs = part if docs is None else docs.unionByName(part)
    docs = docs.repartition(64).persist()
    n = docs.count()
    out["docs"] = n

    def timed(name, fn):
        t0 = time.monotonic()
        r = fn()
        out[name] = {"sec": round(time.monotonic() - t0, 1), "result": r}
        print(name, out[name], flush=True)

    # 1. decontaminate: eval = base slice (5k docs), corpus = all
    from rsyslog_spark.dataops.decontam import kgram_contamination

    ev = base.filter(F.col("doc_id") % 10 == 7)
    timed("decontaminate", lambda: kgram_contamination(docs, ev)
          .agg(F.count(F.lit(1)), F.sum(F.col("contaminated").cast("long")))
          .first().asDict())

    # 2. minhash pipeline -> verified pairs -> clusters (end-to-end)
    from rsyslog_spark.dataops.cluster import dup_clusters
    from rsyslog_spark.dataops.dedup import (
        jaccard_pairs,
        minhash_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    sh = shingles(docs).persist()
    sigs = minhash_signatures(sh).persist()

    timed("minhash_pairs", lambda: jaccard_pairs(
        sh, pairs=minhash_candidate_pairs(sigs), threshold=0.5
    ).count())
    mp = out["minhash_pairs"]
    out["per_pair_ms"] = round(1000 * mp["sec"] / max(mp["result"], 1), 4)

    def clusters():
        pairs = jaccard_pairs(
            sh, pairs=minhash_candidate_pairs(sigs), threshold=0.5
        )
        lab = dup_clusters(pairs)
        return lab.agg(
            F.count(F.lit(1)).alias("labeled"),
            F.countDistinct("cluster_id").alias("clusters"),
        ).first().asDict()

    timed("dup_clusters", clusters)

    # 3. flagship at 3M rows (the bench's materialized table if present)
    bench_in = f"/tmp/rsyslog_spark_bench/in_0.1_x30"
    if os.path.exists(os.path.join(bench_in, "_SUCCESS")):
        from rsyslog_spark.pipeline import build_flagship

        def flag():
            ann, actions = build_flagship(spark.read.parquet(bench_in))
            a = ann.agg(
                F.count(F.lit(1)).alias("rows"),
                *[F.sum(F.col(x.pred_col).cast("long")) for x in actions],
            ).first()
            return {"rows": int(a["rows"])}

        flag()  # warm
        timed("flagship_3m", flag)

    out["jvm_peak_rss_gb"] = jvm_peak_rss_gb()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
