"""Connected components over candidate-duplicate pairs -> cluster ids.

Near-dup detection (MinHash/SimHash/LSH) emits PAIRS; a training-data
pipeline needs CLUSTERS — "keep one doc per duplicate group" requires a
transitive grouping (A~B, B~C => {A,B,C} even when A,C never collide).

Algorithm: the alternating large-star / small-star method of Kiveris,
Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
MapReduce and Beyond" (SoCC 2014) — the standard shuffle-bounded CC for
this setting:

- ``large_star``:  every node connects its strictly-larger neighbors to
  the minimum of its closed neighborhood.
- ``small_star``:  with edges oriented large->small, every node connects
  its smaller neighbors AND itself to that minimum.

Alternating the two converges in O(log n) rounds (proven in the paper;
duplicate clusters — tiny diameters — converge in 2-3) to a forest of
stars rooted at each component's minimum node id. Each round is ONE
min-aggregation plus ONE join per star op — no collect_list, so a
high-degree node (a boilerplate string duplicated 10^6 times) never
materializes its neighborhood in a single task; skewed join keys are
AQE-split. This is the 100 TB shape: per-round cost is O(|E|) shuffle,
round count is logarithmic, and the driver loop only checks a per-round
convergence aggregate (count + xxhash64 checksum — no edge data ever
reaches the driver).

The iterative loop is genuinely non-SQL-expressible in one query, but
its RESULT is: the DuckDB oracle recomputes components via a recursive
reachability CTE (__spark_entry__ ``dup_clusters``), so the driver gate
still value-checks every label.

Graphs of at most ``SMALL_GRAPH_THRESHOLD`` canonical edges skip the
rounds: one bounded collect, union-find on the driver, and the labels
go back to the JVM as a local relation (``LocalTableScan``).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rsyslog_spark.lookup import local_table

# edges up to which components are labeled on the driver (union-find)
SMALL_GRAPH_THRESHOLD = 1_000_000


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u < v), dedup, no self-loops."""
    return (
        e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """{(v, m(u)) : v in N(u), v > u}, m(u) = min(N(u) + {u})."""
    sym = e.unionByName(e.select(F.col("v").alias("u"),
                                 F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, on="u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Edges oriented large->small; {(v, m(u)) : v in N(u) + {u}}."""
    o = e.select(F.greatest("u", "v").alias("u"),
                 F.least("u", "v").alias("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    via_nbrs = o.join(mins, on="u").select(F.col("v").alias("u"),
                                           F.col("m").alias("v"))
    via_self = mins.select("u", F.col("m").alias("v"))
    return via_nbrs.unionByName(via_self)


def _union_find_labels(edges: Iterable[tuple]) -> dict:
    """Driver-side union-find: node -> min reachable node id."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        for x in (u, v):
            if x not in parent:
                parent[x] = x
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN id so the root IS the component label
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def _driver_labels(e: DataFrame, threshold: int) -> dict | None:
    """node -> component by driver union-find, or None when the
    canonical edge set ``e`` has more than ``threshold`` edges.

    Size-gated fast path: a graph under the gate fits the driver
    trivially (1M int64 pairs = 16 MB — the TakeOrdered discipline:
    bounded rows cross, never the corpus), and the iterative rounds'
    fixed cost (checkpoint job + convergence aggregates + 4 shuffles
    per round) dwarfs the work: measured 3.6 s for 262 edges at sf0.1
    vs ~0.5 s via union-find. One bounded collect (``limit(threshold +
    1)`` as Arrow) both sizes the graph and fetches it. At 100 TB the VERIFIED near-dup edge set is still ~0.1-1%
    of the corpus; when it exceeds the gate, the alternating-star rounds
    are the shape that scales (differential-tested equal)."""
    if not threshold or threshold <= 0:
        return None
    t = e.limit(threshold + 1).toArrow()
    if t.num_rows > threshold:
        return None
    return _union_find_labels(
        zip(t.column("u").to_pylist(), t.column("v").to_pylist())
    )


def _star_components(e: DataFrame, max_iter: int) -> DataFrame:
    """(node, component) by alternating large/small-star rounds."""

    def _sig(d: DataFrame):
        r = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return r["n"], r["h"]

    # localCheckpoint each round: the iterated plan tree otherwise
    # doubles per round (star ops + distinct over the previous round's
    # full lineage) and the optimizer OOMs after ~8 rounds even on toy
    # graphs. Truncating lineage per round is mandatory for ANY
    # iterative DataFrame algorithm; on a cluster with a checkpoint
    # dir, df.checkpoint() (reliable, HDFS-backed) is the same call.
    e = e.localCheckpoint(eager=True)
    sig = _sig(e)
    for _ in range(max_iter):
        nxt = _canon(
            _small_star(_large_star(e))
        ).localCheckpoint(eager=True)
        nsig = _sig(nxt)
        e = nxt
        if nsig == sig:
            break
        sig = nsig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # stable state: stars rooted at component minima. label(v) =
    # min(neighborhood + {v}) — for the root that is itself.
    sym = e.unionByName(e.select(F.col("v").alias("u"),
                                 F.col("u").alias("v")))
    out = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("component")
    )
    return out.select(F.col("u").alias("node"), "component")


def connected_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 25,
    small_graph_threshold: int = SMALL_GRAPH_THRESHOLD,
) -> DataFrame:
    """(node, component): component = min node id reachable from node.

    ``pairs`` is any DataFrame of undirected edges. Only nodes that
    appear in an edge are returned (isolated nodes are the caller's
    no-op case). Up to ``small_graph_threshold`` canonical edges the
    labels come from driver union-find and return as a JVM-local
    relation (``LocalTableScan``, the input's id type). Above it the
    star rounds run; their convergence is detected on (edge count,
    bit_xor of per-edge xxhash64) over the canonical edge set — two
    cheap aggregates per round, no edge data on the driver. The
    canonical set is DISTINCT, so the xor is a set fingerprint; a
    harmful collision needs consecutive DIFFERENT sets with equal
    counts AND equal xors — astronomically unlikely (tests pin exact
    labels on known graphs).
    """
    e = _canon(pairs.select(F.col(a).alias("u"), F.col(b).alias("v")))
    labels = _driver_labels(e, small_graph_threshold)
    if labels is None:
        return _star_components(e, max_iter)
    t = e.schema["u"].dataType.simpleString()
    return local_table(
        pairs.sparkSession, sorted(labels.items()),
        f"node {t}, component {t}",
    )


def dup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """(doc_id, cluster_id, csize, keep): transitive duplicate groups.

    ``pairs`` are verified near-dup edges (e.g. jaccard_pairs output).
    cluster_id = min doc id in the group; csize = group size; keep =
    the canonical representative flag (doc_id == cluster_id) — the row
    a dedup pass retains. Docs in no pair are singletons and omitted
    (they are all trivially keep=true). Under the small-graph gate all
    four columns come from the driver's labels (no join); above it the
    sizes join back onto the star-round labels."""
    e = _canon(pairs.select(F.col(a).alias("u"), F.col(b).alias("v")))
    labels = _driver_labels(e, SMALL_GRAPH_THRESHOLD)
    if labels is not None:
        csize = Counter(labels.values())
        t = e.schema["u"].dataType.simpleString()
        return local_table(
            pairs.sparkSession,
            [(n, c, csize[c], n == c) for n, c in sorted(labels.items())],
            f"{id_col} {t}, cluster_id {t}, csize bigint, keep boolean",
        )
    cc = _star_components(e, max_iter=25)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return (
        cc.join(sizes, on="component")
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("cluster_id"),
            "csize",
            (F.col("node") == F.col("component")).alias("keep"),
        )
    )
