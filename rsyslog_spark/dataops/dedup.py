"""Deduplication operators: exact, MinHash-LSH, n-gram Jaccard, SimHash.

Scale design (the only thing that matters at 100 TB):

- exact: one hash-shuffle on md5(text) — the minimum possible.
- MinHash-LSH: shingle -> per-band min-hash signature -> candidates are
  docs sharing a (band, signature) bucket. The *pair* join happens only
  inside buckets (tiny), never across the corpus. Hash = md5 hex of a
  seed-prefixed shingle: deterministic, engine-independent, and string
  MIN is a valid min-hash order (uniform over hex strings).
- Jaccard verify: candidate-first — each candidate pair joins a's
  shingles and semi-joins b's, so |A ∩ B| costs sum(|A|) over the
  pairs; shingles are never self-joined (that costs sum(df^2) over the
  corpus: 574,944 rows for 1,996 candidates on a 3k-doc corpus). Sizes
  are per-doc distinct counts.
- SimHash: per-bit majority vote over shingle hashes, emitted as a
  bitstring column; near-dup = small Hamming distance.

Everything is exact-arithmetic (string mins, integer counts) so results
are bit-identical across engines — floats appear only in the final
Jaccard ratio (rounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FNF = None  # no sentinel values; missing = absent row


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: (content_hash, n, keep_id).

    keep_id = min id = the canonical survivor; rows with n > 1 are the
    duplicate groups. Single shuffle on the hash."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(id_col).alias("keep_id"),
        )
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             k: int = 3, out: str = "sh") -> DataFrame:
    """Distinct word k-gram shingles, exploded: (id, sh).

    ONE mapInPandas pass builds each doc's gram set locally — per-doc
    dedup needs NO shuffle at all (shingle uniqueness is per document by
    definition), and the python loop beats the Column-HOF formulation
    by ~4x (transform over sequence with 3 element_at per gram is
    interpreted per element; measured 4.6 s -> ~1 s at sf0.1; the
    Column form is the differential reference in the tests).

    The output shape is the scale-relevant one: every downstream op is
    a groupBy/join on (id) or (sh) — plain shuffles, no row blowup
    beyond tokens x1."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def _gen(pdfs):
        for pdf in pdfs:
            ids: list = []
            shs: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = (t or "").split(" ")
                seen = set()
                for j in range(len(toks) - k + 1):
                    g = " ".join(toks[j:j + k])
                    if g not in seen:
                        seen.add(g)
                        ids.append(i)
                        shs.append(g)
            yield pd.DataFrame({"id": ids, out: shs})

    return df.select(
        F.col(id_col), F.col(text_col)
    ).mapInPandas(_gen, f"id {id_type}, {out} string")


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 8, rows_per_band: int = 2
) -> DataFrame:
    """(id, band, sig): banded min-hash signatures, b = num_hashes / r
    bands of r concatenated min-hash lanes.

    Hash lanes are 8-hex-char (32-bit) SLICES of md5 digests: lanes 0-3
    come from md5(shingle), lanes 4-7 from md5('x:'+shingle) — 2 md5
    evaluations per shingle instead of 8 (r01 cost: 8 md5 + an 8x row
    explode; dedup_minhash was the most expensive bench query). Each
    slice is an independent-enough uniform 32-bit projection, and string
    MIN over fixed-width lowercase hex is a valid min-hash order. The
    per-doc mins for ALL lanes aggregate in ONE groupBy(id) — a single
    shuffle of the shingle frame, no lane explode at all.

    Banding is the collision-control knob: candidate probability for
    similarity s is 1-(1-s^r)^b. r=1 makes every shared vocabulary word
    a collision (bucket blowup on overlapping corpora — measured 47 s
    vs 3 s at sf0.1); r=2 keeps recall high for s>=0.5 while buckets
    stay near-unique."""
    assert num_hashes % rows_per_band == 0
    assert num_hashes <= 8, "8 lanes per two md5 digests"
    h1 = F.md5(F.col("sh"))
    h2 = F.md5(F.concat(F.lit("x:"), F.col("sh")))
    lanes = [
        F.min(
            F.substring(h1 if j < 4 else h2, 1 + 8 * (j % 4), 8)
        ).alias(f"l{j}")
        for j in range(num_hashes)
    ]
    per_doc = sh.groupBy("id").agg(*lanes)
    bands = num_hashes // rows_per_band
    stack_args = ", ".join(
        f"{b}, concat("
        + ", ".join(f"l{b * rows_per_band + r}" for r in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    return per_doc.selectExpr(
        "id", f"stack({bands}, {stack_args}) as (band, sig)"
    )


def minhash_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any (band, sig) bucket."""
    left = sigs.select("band", "sig", F.col("id").alias("a"))
    right = sigs.select("band", "sig", F.col("id").alias("b"))
    return (
        left.join(right, on=["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(
    sh: DataFrame, pairs: DataFrame, threshold: float = 0.0
) -> DataFrame:
    """Exact Jaccard for candidate pairs.

    (a, b, inter, union_n, jac) with jac rounded to 4 digits, one row
    per distinct ``pairs`` row with ``a < b`` and at least one shared
    shingle (a reversed or self pair names no row). The intersection is
    driven by the candidates: each pair picks up a's shingles by an
    equi-join on ``a``, and a left-semi join on ``(b, sh)`` keeps those
    b also holds. Work is sum(|sh(a)|) over the pairs, never the
    sum(df(shingle)^2) rows of a shingle self-join.
    """
    p = pairs.select("a", "b").filter(F.col("a") < F.col("b")).distinct()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    co = p.join(sh.select(F.col("id").alias("a"), "sh"), on="a").join(
        sh.select(F.col("id").alias("b"), "sh"), on=["b", "sh"],
        how="leftsemi",
    )
    inter = co.groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
    out = (
        inter.join(sizes.withColumnRenamed("id", "a")
                   .withColumnRenamed("sz", "sza"), on="a")
        .join(sizes.withColumnRenamed("id", "b")
              .withColumnRenamed("sz", "szb"), on="b")
        .select(
            "a",
            "b",
            "inter",
            (F.col("sza") + F.col("szb") - F.col("inter")).alias("union_n"),
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")),
                4,
            ).alias("jac"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jac") >= threshold)
    return out


def simhash(sh: DataFrame, bits: int = 32) -> DataFrame:
    """(id, simhash) with simhash as a ``bits``-char '0'/'1' string.

    Bit k comes from hex digit k//4 of md5(shingle): majority vote of
    (2*bit-1) across the doc's shingles (Charikar). A bitstring output
    keeps the value engine-portable (no 64-bit unsigned pitfalls).

    Per-shingle digest exploded to an (id, k) vote plane. The x``bits``
    row inflation LOOKS like a scale bug but is not: whole-stage codegen
    pipelines the explode straight into the map-side partial aggregate,
    so the shuffle carries only docs x bits combined rows and the final
    collect_list groups are bounded at exactly ``bits`` elements. The
    single-groupBy(id) form with one sum expression per bit (no row
    inflation) MEASURED ~2x SLOWER at sf0.1 (1.12 s vs 0.53 s warm): the
    ``bits`` aggregate expressions each re-evaluate the nibble extraction
    with no cross-aggregate subexpression elimination. It is kept in the
    tests as the differential reference."""
    assert bits <= 128 and bits % 4 == 0
    k = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("k")
    digits = sh.select("id", F.md5(F.col("sh")).alias("h"), k)
    # SQL-expr form: shiftright() needs a literal shift amount in the
    # Column API, but `>>` takes a column operand in SQL
    bit = F.expr(
        "((instr('0123456789abcdef', substring(h, cast(k/4 as int)+1, 1))"
        " - 1) >> (3 - k % 4)) & 1"
    )
    votes = (
        digits.select("id", "k", (bit * 2 - 1).alias("v"))
        .groupBy("id", "k")
        .agg(F.sum("v").alias("s"))
    )
    ch = F.when(F.col("s") > 0, F.lit("1")).otherwise(F.lit("0"))
    ordered = votes.select(
        "id", F.struct(F.col("k"), ch.alias("c")).alias("kc")
    )
    return (
        ordered.groupBy("id")
        .agg(F.sort_array(F.collect_list("kc")).alias("arr"))
        .select(
            "id",
            F.concat_ws(
                "", F.transform(F.col("arr"), lambda x: x["c"])
            ).alias("simhash"),
        )
    )


def hamming_pairs(sim: DataFrame, max_dist: int = 3, bits: int = 32) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Scale path: block on ``nb = max_dist + 1`` bands of the bitstring —
    by pigeonhole a pair within Hamming distance ``max_dist`` MUST agree
    exactly on at least one band (even when the bands don't cover every
    bit: a subset of the <= max_dist differing bits falls in covered
    bands, and nb > max_dist bands leave one diff-free). Same LSH trick
    as MinHash banding; the quadratic join only happens inside blocks.
    nb is derived, not fixed: a fixed nb=4 with max_dist=16 would
    silently miss pairs whose differing bits span all four blocks."""
    nb = max_dist + 1
    if nb > bits:
        raise ValueError(f"max_dist {max_dist} needs {nb} blocks > {bits} bits")
    sim2 = sim.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("blk"),
    ).withColumn(
        "piece",
        F.expr(
            f"substring(simhash, blk * (length(simhash) div {nb}) + 1,"
            f" length(simhash) div {nb})"
        ),
    )
    l = sim2.select("blk", "piece", F.col("id").alias("a"),
                    F.col("simhash").alias("ha"))
    r = sim2.select("blk", "piece", F.col("id").alias("b"),
                    F.col("simhash").alias("hb"))
    cand = (
        l.join(r, on=["blk", "piece"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
    )
    dist = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("ha"), ""),
                F.split(F.col("hb"), ""),
                lambda x, y: x != y,
            ),
            lambda x: x,
        )
    )
    return cand.select("a", "b", dist.alias("dist")).filter(
        F.col("dist") <= max_dist
    )
