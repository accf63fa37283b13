"""Benchmark decontamination: k-gram overlap between a training corpus
and an evaluation/benchmark set.

The standard pretraining hygiene step (GPT-3 appendix C / PaLM /
Llama-style): a training document is contaminated when it shares enough
word k-grams (k=13 canonically) with any benchmark document. At 100 TB
the ONLY viable shape is asymmetric: the eval side is tiny (benchmarks
are at most millions of grams), the corpus side is the 100 TB — so the
eval grams travel to the corpus, never the reverse.

Eval grams are md5-hashed to int64, collected to the driver as a
SORTED numpy int64 array (8 bytes per gram exactly: 20 M grams =
160 MB — a Python frozenset of the same ints would be ~1.5-2 GB of
boxed objects and per-slot overhead), broadcast to executors, and the
corpus makes ONE mapInPandas pass that shingles + hashes + counts hits
per doc via vectorized ``np.searchsorted`` membership. ZERO corpus-side
shuffle — the whole operator is a single scan. This is the plan you
want at 10^12 docs. (The broadcast-hash-join form, which pays a
groupBy(id) shuffle, is the differential reference in the tests.)

Grams hash with md5[:8 bytes] via hashlib (engine-independent,
deterministic); a collision would need ~2^32 grams per 50%% birthday
chance — irrelevant at benchmark scale, and it could only ever
OVER-count a hit, never miss one.

Tokenization is the corpus-wide convention (split on single spaces),
matching dedup.shingles so contamination and dedup agree on what a
"gram" is.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _h64(g: str) -> int:
    """First 8 md5 bytes as a non-negative int64 (top bit cleared)."""
    return int.from_bytes(
        hashlib.md5(g.encode()).digest()[:8], "big"
    ) & 0x7FFFFFFFFFFFFFFF


def _doc_gram_hashes(text: str, k: int) -> set:
    toks = (text or "").split(" ")
    return {
        _h64(" ".join(toks[j:j + k]))
        for j in range(len(toks) - k + 1)
    }


def gram_hashes(df: DataFrame, k: int = 13, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(id, gh): per-doc DISTINCT k-gram hashes, one mapInPandas pass
    (no shuffle; distinctness is per document, computed locally)."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def _gen(pdfs):
        for pdf in pdfs:
            ids: list = []
            ghs: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                for gh in _doc_gram_hashes(t, k):
                    ids.append(i)
                    ghs.append(gh)
            yield pd.DataFrame({"id": ids, "gh": ghs})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _gen, f"id {id_type}, gh long"
    )


def kgram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    k: int = 13,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per corpus doc: (id, n_grams, n_hit, frac, contaminated).

    - n_grams: the doc's distinct k-gram count (0 for docs shorter than
      k tokens — such docs can never be flagged, matching the reference
      heuristics, which skip sub-k documents).
    - n_hit: how many of those grams appear anywhere in the eval set.
    - frac: n_hit / n_grams (0.0 when n_grams = 0), rounded to 6 dp.
    - contaminated: frac >= threshold.
    """
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()

    # eval side: per-doc gram hashes -> global distinct (eval-sized
    # shuffle, tiny) -> driver SORTED int64 array -> executor
    # broadcast. 8 bytes/gram flat (the r3 frozenset was ~28 bytes
    # per boxed int plus hash-table slots); membership below is a
    # vectorized binary search instead of a per-gram Python lookup.
    ev = [
        r.gh
        for r in gram_hashes(eval_df, k, text_col, id_col)
        .select("gh").distinct().collect()
    ]
    bc = corpus.sparkSession.sparkContext.broadcast(
        np.sort(np.array(ev, dtype=np.int64))
    )

    def _gen(pdfs):
        evarr = bc.value
        for pdf in pdfs:
            ids: list = []
            ng: list = []
            nh: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                ghs = _doc_gram_hashes(t, k)
                ids.append(i)
                ng.append(len(ghs))
                if ghs and evarr.size:
                    g = np.fromiter(ghs, dtype=np.int64, count=len(ghs))
                    pos = np.searchsorted(evarr, g)
                    inb = pos < evarr.size
                    nh.append(int(np.count_nonzero(
                        inb & (evarr[np.where(inb, pos, 0)] == g)
                    )))
                else:
                    nh.append(0)
            yield pd.DataFrame({"id": ids, "n_grams": ng, "n_hit": nh})

    counts = corpus.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _gen, f"id {id_type}, n_grams long, n_hit long"
    )

    frac = F.when(
        F.col("n_grams") > 0,
        F.round(F.col("n_hit") / F.col("n_grams"), 6),
    ).otherwise(F.lit(0.0))
    return counts.select(
        "id", "n_grams", "n_hit",
        frac.alias("frac"),
        # sub-k docs (n_grams = 0) can never be flagged, even at
        # threshold <= 0 — mirrors the oracle's CASE WHEN n_grams > 0
        ((F.col("n_grams") > 0) & (frac >= threshold)).alias(
            "contaminated"
        ),
    )
