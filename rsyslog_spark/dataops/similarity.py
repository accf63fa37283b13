"""Embedding similarity search over an array<float> column.

- ``cosine``: exact cosine as a pure Column expression (zip_with +
  aggregate in double precision — JVM codegen, no UDF).
- ``topk_bruteforce``: exact top-k neighbors for a (small) query set:
  broadcast the queries, scan the corpus once. This is the correct
  100 TB plan when |queries| is small — one pass, no shuffle of the
  corpus, per-partition top-k via window over the broadcast side.
- ``lsh_bucket_table`` / ``topk_lsh`` / ``neardup_lsh``: the scale
  path for large query sets — deterministic sign-LSH buckets (bit =
  sign of an integer projection onto a Rademacher hyperplane, one
  numpy matmul per Arrow batch), candidates only within a bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def _dbl(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: (qid, nid, cos, rank). Queries are broadcast; the
    corpus is scanned once; rank via window partitioned by qid
    (bounded by |queries|*k rows after the per-partition filter)."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")
    )
    scored = (
        c.join(broadcast(q), F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (exact). Quadratic — correct
    only for small corpora or WITHIN LSH buckets; the scale path is
    ``topk_lsh``-style bucketing first."""
    a = corpus.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def rademacher_plane(table: int, bit: int, dim: int) -> list[int]:
    """±1 hyperplane components from the md5 bitstream of 'h<t>:<j>'.

    Rademacher (random-sign) hyperplanes are a standard sign-LSH family
    (Charikar's rounding hyperplanes with ±1 entries — same collision
    probability 1 - θ/π in expectation, and exactly reproducible in any
    engine because the projection is INTEGER arithmetic). Bit d of the
    digest follows the simhash hex-nibble convention (digit d//4, shift
    3 - d%4). dim <= 128 per digest."""
    import hashlib

    assert dim <= 128
    hx = hashlib.md5(f"h{table}:{bit}".encode()).hexdigest()
    return [
        2 * ((int(hx[d // 4], 16) >> (3 - d % 4)) & 1) - 1
        for d in range(dim)
    ]


def lsh_bucket_table(
    df: DataFrame,
    n_tables: int = 16,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    keep: tuple = (),
) -> DataFrame:
    """(id, tbl, bucket): one integer bucket id per hash table
    (OR-banding). n_tables independent tables boost recall exactly like
    MinHash banding: candidate probability 1 - (1 - p^n_bits)^n_tables
    for per-bit agreement p = 1 - θ/π.

    All n_tables*n_bits projections compute in ONE Arrow-batched numpy
    int64 matmul (q @ W.T) — the Column-HOF formulation (aggregate over
    zip_with per bit) is interpreted per element and measured ~10x
    slower at 5k x 128 projections. Integer math keeps buckets exactly
    reproducible across engines (oracle recomputes the same sums)."""
    from pyspark.sql.types import ArrayType, LongType

    W = np.array(
        [
            rademacher_plane(t, j, dim)
            for t in range(n_tables)
            for j in range(n_bits)
        ],
        dtype=np.int64,
    )  # (n_tables*n_bits, dim)
    pow2 = (1 << np.arange(n_bits - 1, -1, -1, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        m = np.array(
            [np.asarray(v, dtype=np.float64) for v in vecs], dtype=np.float64
        )
        q = np.floor(m * 1000.0 + 0.5).astype(np.int64)
        # planes sliced to the actual vector length — shorter vectors
        # just use the leading plane coordinates
        bits = (q @ W[:, : q.shape[1]].T) >= 0  # exact int64
        ids = (
            bits.reshape(len(q), n_tables, n_bits).astype(np.int64) * pow2
        ).sum(axis=2)
        return pd.Series(list(ids))

    cols = [id_col, *keep]
    return df.select(
        *cols, _buckets(F.col(vec_col)).alias("_bk")
    ).select(
        *cols, F.posexplode("_bk").alias("tbl", "bucket")
    )


def neardup_lsh(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_tables: int = 16,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs through LSH buckets + exact cosine verify.

    The scale path (replaces the r01 all-pairs a.join(b, a<b)): the
    only join is a bucket equi-join on (tbl, bucket) — candidates are
    pairs colliding in >=1 table, then exact cosine filters. Recall is
    approximate by construction (reported in PERF.md); candidate volume
    ~ n_tables/2^n_bits of the quadratic pair space."""
    # persist: both join sides AND nothing else reuse the projection
    # work (128 interpreted higher-order-function dot products per row
    # — the bucket computation, not the join, dominates)
    bt = lsh_bucket_table(
        corpus, n_tables, n_bits, id_col, vec_col, dim
    ).persist()
    l = bt.select("tbl", "bucket", F.col(id_col).alias("a"))
    r = bt.select("tbl", "bucket", F.col(id_col).alias("b"))
    # dedupe the BARE id pairs (a pair can collide in up to n_tables
    # buckets) before re-attaching vectors: shuffling (a,b) ints is
    # ~100x lighter than shuffling 2 embedding payloads per duplicate
    cand = (
        l.join(r, on=["tbl", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = corpus.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = corpus.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, on="a").join(vb, on="b")
        .select(
            "a", "b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def ivf_anchor_ids(corpus: DataFrame, k: int, id_col: str = "vec_id"):
    """Deterministic IVF 'training': the coarse centroids are the
    quantized vectors of the k corpus rows with the smallest
    md5(str(id)) — a hash-random sample, the standard cheap substitute
    for k-means centroids, and reproducible in ANY engine (no RNG, no
    float iteration order). Returns the ordered id list (cid = rank).

    The selection runs IN-ENGINE as orderBy(md5, id).limit(k) —
    Catalyst compiles that to TakeOrderedAndProject, so only the k
    winning ids cross to the driver (each partition ships its local
    top-k; a full-corpus collect here would OOM the driver at 10^9
    vectors). ``F.md5(cast(id as string))`` produces the identical
    lowercase-hex digest the previous driver-side ``hashlib.md5``
    computed, so anchors are unchanged."""
    rows = (
        corpus.select(id_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    return [r[0] for r in rows]


def ivf_assignments(
    df: DataFrame,
    centroids,  # numpy (k, dim) int64 — quantized anchor vectors
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple = (),
) -> DataFrame:
    """(id[, keep...], probe, cid): each vector's ``nprobe`` nearest
    inverted lists by integer dot product over x1000-quantized vectors
    (exact int64 math — ties break by centroid index, so Spark and any
    oracle agree bit-for-bit). All |df| x k scores in ONE numpy matmul
    per Arrow batch, like the sign-LSH path."""
    from pyspark.sql.types import ArrayType, LongType

    C = np.asarray(centroids, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _lists(vecs: pd.Series) -> pd.Series:
        m = np.array(
            [np.asarray(v, dtype=np.float64) for v in vecs],
            dtype=np.float64,
        )
        q = np.floor(m * 1000.0 + 0.5).astype(np.int64)
        scores = q @ C[:, : q.shape[1]].T  # (n, k) exact int64
        # argsort by (-score, cid): stable mergesort keeps the
        # tie-break deterministic
        order = np.argsort(-scores, axis=1, kind="stable")
        return pd.Series(list(order[:, :nprobe].astype(np.int64)))

    cols = [id_col, *keep]
    return df.select(
        *cols, _lists(F.col(vec_col)).alias("_ls")
    ).select(*cols, F.posexplode("_ls").alias("probe", "cid"))


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroid_vectors,  # numpy (k, dim) int64
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in ONE inverted list
    each (their nearest centroid); queries probe their ``nprobe``
    nearest lists; exact cosine + window rank inside the probed lists.

    This is the second scale path next to sign-LSH (the brief's 'IVF or
    LSH-bucketed variant'): the only join is the (cid) equi-join —
    candidates ~ nprobe/k_lists of the corpus per query, skewed lists
    split by AQE. At 10^9 vectors the assignment is one matmul scan and
    the lists are a partitioned table you build once."""
    cb = ivf_assignments(
        corpus, centroid_vectors, nprobe=1,
        id_col=id_col, vec_col=vec_col, keep=(vec_col,),
    )
    qb = ivf_assignments(
        queries, centroid_vectors, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, keep=(vec_col,),
    )
    c = cb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"),
                  "cid")
    q = qb.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"),
                  "cid")
    scored = (
        c.join(broadcast(q), on="cid")
        .filter(F.col("qid") != F.col("nid"))
        .select(
            "qid", "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 4).alias("cos"),
        )
        # a query probing 2 lists can meet the same neighbor only once
        # (corpus rows live in exactly one list) — no dedup needed
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share a sign-LSH bucket in >= 1
    of ``n_tables`` independent hash tables (multi-table OR-banding —
    the standard LSH recall lever: candidate probability
    1 - (1 - p^n_bits)^n_tables for per-bit agreement p).

    The (tbl, bucket) equi-join replaces the all-pairs product — this
    is the shape that survives 10^9 vectors (bucket sizes ~n/2^bits;
    skewed buckets split by AQE). With n_tables > 1 the candidate
    (qid, nid) pairs are DEDUPED as bare ids before the vectors are
    re-attached (the ``neardup_lsh`` discipline: shuffling id pairs is
    ~100x lighter than shuffling duplicate embedding payloads).
    Buckets come from the same ONE-matmul Arrow path as
    ``neardup_lsh``: the interpreted Column-HOF formulation computes
    identical groupings but was measured ~10x slower at 5k x 128
    projections (PERF.md); it lives in the tests as the cross-engine
    reference."""
    cb = lsh_bucket_table(corpus, n_tables, n_bits, id_col, vec_col, dim)
    qb = lsh_bucket_table(queries, n_tables, n_bits, id_col, vec_col, dim)
    q = qb.select("tbl", "bucket", F.col(id_col).alias("qid"))
    c = cb.select("tbl", "bucket", F.col(id_col).alias("nid"))
    cand = (
        c.join(broadcast(q), on=["tbl", "bucket"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
    )
    if n_tables > 1:
        cand = cand.distinct()
    qv = queries.select(F.col(id_col).alias("qid"),
                        F.col(vec_col).alias("qv"))
    nv = corpus.select(F.col(id_col).alias("nid"),
                       F.col(vec_col).alias("nv"))
    scored = (
        cand.join(broadcast(qv), on="qid")
        .join(nv, on="nid")
        .select(
            "qid", "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
