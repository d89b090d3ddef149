"""Graph operators: connected components over a pair graph, and
fixed-round Bellman-Ford shortest paths (:func:`shortest_paths`) with a
(dist, prev_dist) fixpoint certificate and an unrolled SQL twin.

The missing last stage of every near-dup pipeline: pair mining (MinHash /
SimHash / banded-Hamming / embedding-LSH, operators/dedup.py and
similarity.py) emits EDGES, but a deduplicating writer needs CLUSTERS —
"these k documents are all the same; keep one canonical representative".
The reference has no notion of cross-file identity at all; this is
north-rule corpus infrastructure built fresh.

``connected_components`` is iterative min-label propagation with pointer
jumping:

- labels start as each node's own id;
- each round every node takes the min of (its label, its neighbors'
  labels) — one equi-join + map-side-combined groupBy — and then labels
  chase their own label's label (pointer doubling), which collapses long
  chains in O(log diameter) rounds instead of O(diameter);
- convergence is detected by the (monotonically non-increasing) global
  label sum: a driver-side loop with one tiny agg action per round, the
  same bounded-iteration shape as the kNN ring expansion
  (spatial.knn_join).

The fixpoint (every node labeled with the MINIMUM id reachable from it)
is schedule-independent, so the result is deterministic regardless of
partitioning or iteration interleaving. At 100 TB the per-round cost is
two equi-joins on (node/label) — shuffle volume ~ |edges| + |nodes| —
and near-dup graphs have tiny diameters (clusters are cliques-ish), so
3-4 rounds typically suffice.

The DuckDB oracle twin (:func:`connected_components_sql`) expresses the
same fixpoint as a WITH RECURSIVE transitive min-label closure — the
UNION-dedup'd reach set — so the clustering is hash-gated exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from activity_files_spark.operators.materialize import materialize


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Components of the undirected edge graph. Returns (node, component)
    where ``component`` is the minimum node id in the node's component.
    Nodes not appearing in any edge are absent (singletons are the
    caller's no-op case)."""
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    # checkpoint the symmetrized edge list ONCE: it feeds every round's
    # neighbor join, and without this the upstream pair-mining pipeline
    # would be recomputed per round
    sym = materialize(sym.distinct(), eager=True)
    labels = (
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
    )
    labels = materialize(labels, eager=True)
    # no initial label-sum action: round 1 always lowers the sum for any
    # nonempty edge set (each edge's larger endpoint takes a smaller
    # label), so an initial-sum early exit can never fire — a sentinel
    # saves one blocking driver job per call (empty graphs just run one
    # extra empty round before the None == None fixpoint hits)
    prev_sum: object = object()
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["a"] == labels["node"])
            .groupBy(F.col("b").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neigh, labels["node"] == neigh["node2"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
        )
        # pointer jumping: label <- label(label)
        l2 = stepped.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        jumped = (
            stepped.join(l2, stepped["label"] == l2["pnode"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))).alias("label"),
            )
        )
        # lazy: the convergence-sum action on the next line is the round's
        # single job — eager would spend a second blocking job per round
        labels = materialize(jumped, eager=False)
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    return labels.select("node", F.col("label").alias("component"))


def connected_components_sql(edges_cte: str) -> str:
    """DuckDB oracle body: transitive min-label closure over a CTE named
    ``edges_cte`` with columns (a, b) — DIRECTED rows; the closure
    symmetrizes. Binds cc_edges / cc_nodes / cc_reach / cc_labels; the
    caller SELECTs (node, component) from ``cc_labels``. Requires the
    enclosing WITH to be RECURSIVE."""
    return f"""
    cc_edges AS (
      SELECT a, b FROM {edges_cte}
      UNION
      SELECT b, a FROM {edges_cte}
    ),
    cc_nodes AS (
      SELECT DISTINCT a AS n FROM cc_edges
    ),
    cc_reach AS (
      SELECT n AS node, n AS label FROM cc_nodes
      UNION
      SELECT e.b AS node, r.label
      FROM cc_reach r JOIN cc_edges e ON e.a = r.node
      WHERE r.label < e.b
    ),
    cc_labels AS (
      SELECT node, MIN(label) AS component FROM cc_reach GROUP BY node
    )
    """


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
) -> DataFrame:
    """Single/multi-source shortest path distances by ``rounds``
    Bellman-Ford relaxations, each round's (tiny) distance table
    lineage-truncated with ``materialize`` exactly like
    connected_components — a lazy unroll is impossible here because every
    round references the previous table TWICE (carry + relax), which makes
    an uncheckpointed plan tree grow 2^rounds.

    ``edges``: DIRECTED (src, dst, w) with non-negative INTEGER weights —
    integers keep every min() exact and partitioning-invariant, so the
    result is schedule-independent and a SQL twin can hash-gate it
    bit-for-bit (:func:`shortest_paths_sql`). Symmetrize at the caller for
    undirected graphs. ``sources``: one row per source with a ``node``
    column (distance 0).

    Returns (node, dist, prev_dist) where ``prev_dist`` is the distance
    after ``rounds - 1`` relaxations (NULL if the node was first reached in
    the final round): ``dist == prev_dist`` for every row certifies the
    fixpoint — callers assert/emit that instead of trusting a round guess.
    Nodes unreachable within ``rounds`` hops are absent.

    Per round: one equi-join (edges x dist, shuffle ~|edges touched|) and
    one map-side-combined min — the textbook scalable BF shape. Pointer
    doubling would square the edge set, so plain relaxation is the right
    trade at corpus scale where diameters of cell-transition graphs are
    small.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # the edge table and the source-distance seed are independent inputs,
    # typically re-derived from the same upstream scan: overlap them
    e_plan = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), F.col(w).alias("e_w")
    )
    d_plan = sources.select("node").withColumn("dist", F.lit(0).cast("long"))
    e, dist = materialize(e_plan, d_plan, eager=True)
    prev = dist
    for _ in range(rounds):
        relax = e.join(dist, e["e_src"] == dist["node"]).select(
            F.col("e_dst").alias("node"),
            (F.col("dist") + F.col("e_w")).cast("long").alias("dist"),
        )
        prev = dist
        dist = materialize(
            dist.unionByName(relax).groupBy("node").agg(F.min("dist").alias("dist")),
            eager=True,
        )
    return dist.join(
        prev.select(F.col("node"), F.col("dist").alias("prev_dist")),
        "node",
        "left",
    )


def shortest_paths_sql(
    edges_cte: str, sources_cte: str, rounds: int, prefix: str = "sp"
) -> tuple[str, str]:
    """DuckDB twin: the SAME ``rounds`` relaxations unrolled CTE-for-CTE.
    ``edges_cte`` exposes (src, dst, w); ``sources_cte`` exposes (node).
    Returns ``(cte_sql, final_name)``; the final CTE exposes
    (node, dist, prev_dist)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    p = prefix
    # MATERIALIZED is load-bearing: every round references the previous
    # round TWICE (carry + relax); inlined CTEs would expand 2^rounds —
    # the SQL-side twin of the per-round materialize in shortest_paths
    ctes = [
        f"{p}_d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist "
        f"FROM {sources_cte})"
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"{p}_d{k} AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM {p}_d{k - 1} "
            f"UNION ALL "
            f"SELECT e.dst AS node, d.dist + e.w AS dist "
            f"FROM {edges_cte} e JOIN {p}_d{k - 1} d ON e.src = d.node"
            f") t GROUP BY node)"
        )
    final = f"{p}_out"
    ctes.append(
        f"{final} AS (SELECT a.node, a.dist, b.dist AS prev_dist "
        f"FROM {p}_d{rounds} a LEFT JOIN {p}_d{rounds - 1} b USING (node))"
    )
    return ",\n    ".join(ctes), final


__all__ = [
    "connected_components",
    "connected_components_sql",
    "shortest_paths",
    "shortest_paths_sql",
]
