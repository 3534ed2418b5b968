"""Whole-graph analytics over the KG edge view: triangle counting and
PageRank — the two classic "shape of the graph" queries a KG user runs
after construction (community density, entity importance).

Scale shapes (the part that matters at 100 TB):

- `triangle_count` uses the degree-ordered orientation (each
  undirected edge directed from the lower-(degree, id) endpoint to the
  higher): every triangle is counted EXACTLY once, and the 2-path
  join's fan-out is bounded by the max ORIENTED out-degree, which is
  O(sqrt(edges)) even on power-law graphs — the standard trick that
  keeps the join from exploding on hub nodes (Suri & Vassilvitskii,
  WWW'11 "Counting triangles and the curse of the last reducer").
  Three narrow shuffles total (degree agg, 2-path join, closing-edge
  semi-join); node strings never fan out beyond the edge list itself.
- `pagerank` runs the standard damped power iteration with DataFrame
  joins: contributions = ranks/out-degree joined to edges, one
  aggregation per iteration. Dangling-node mass is redistributed
  uniformly (the textbook formulation), so total mass is conserved
  and the result is independent of partitioning. Each iteration's
  shuffle carries (node, partial-sum) pairs only. Lineage is cut
  every few iterations via localCheckpoint, like the BGP closure
  walk, so 20 iterations don't build a 20-deep plan.

Both take the same (src, dst) edge frame `edge_view` builds from a
predicate (resource objects only, like Tree.edges — tree.go:37-46).
Differential evidence: tests/test_graph_algos.py checks triangles
against a DuckDB 3-way self-join oracle (exact integers) and PageRank
against an independent dense NumPy power iteration (same math, no
Spark) to 1e-9, plus invariants (mass conservation, uniform-graph
closed forms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triplestore_spark.operators.graph import RDFGraph
from triplestore_spark.schema import KIND_RESOURCE
from triplestore_spark.session import local_frame

__all__ = [
    "edge_view",
    "triangle_count",
    "pagerank",
    "degree_stats",
    "connected_components",
    "k_core",
    "link_prediction_scores",
    "bfs_distances",
]


def edge_view(graph: RDFGraph | DataFrame, predicate: str) -> DataFrame:
    """(src, dst) resource-to-resource edges of one predicate."""
    df = graph.df if isinstance(graph, RDFGraph) else graph
    return (
        df.where(
            (F.col("predicate") == predicate)
            & (F.col("object_kind") == KIND_RESOURCE)
        )
        .select(F.col("subject").alias("src"),
                F.col("object_value").alias("dst"))
    )


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges as sorted (a, b) pairs, self-loops
    dropped — triangles are a property of the simple graph."""
    e = edges.where(F.col("src") != F.col("dst"))
    return e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()


def triangle_count(edges: DataFrame, *, per_node: bool = False) -> DataFrame:
    """Exact triangle counting via degree-ordered orientation.

    Orient each undirected edge from the endpoint with the smaller
    (degree, node) pair to the larger; join oriented out-neighbor
    lists to enumerate 2-paths u->v, u->w (v<w in the order), and
    semi-join the closing edge v->w. Each triangle has exactly one
    vertex with two out-edges in this orientation, so every triangle
    is produced once — no /3 correction, no double counts.

    Returns one row {n_triangles} (global), or per-node counts
    {node, n_triangles} when per_node=True (each triangle credits its
    three corners; nodes in no triangle are absent)."""
    und = _canonical_undirected(edges)
    both = und.select(
        F.col("a").alias("node"), F.col("b").alias("peer")
    ).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("peer"))
    )
    deg = both.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # orientation key: (degree, node) totally orders the endpoints
    with_deg = (
        both.join(deg, "node")
        .join(
            deg.select(
                F.col("node").alias("peer"), F.col("deg").alias("peer_deg")
            ),
            "peer",
        )
    )
    oriented = with_deg.where(
        (F.col("deg") < F.col("peer_deg"))
        | ((F.col("deg") == F.col("peer_deg")) & (F.col("node") < F.col("peer")))
    ).select(F.col("node").alias("u"), F.col("peer").alias("v"))
    # 2-paths from each low vertex; (v, w) ordered by the SAME key to
    # match the oriented closing edge's direction
    o2 = oriented.select(F.col("u"), F.col("v").alias("w"))
    paths = (
        oriented.join(o2, "u")
        .where(F.col("v") < F.col("w"))
    )
    # the closing edge is oriented by (deg, id) while the 2-path pair
    # (v, w) was ordered by id alone — probe both id orders (the two
    # frames are disjoint, no distinct needed before a semi-join)
    closing = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    ).unionByName(
        oriented.select(F.col("v").alias("v"), F.col("u").alias("w"))
    )
    tri = paths.join(closing, ["v", "w"], "leftsemi")
    if not per_node:
        return tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node in/out/total degree over the directed edge view —
    one union + one aggregation."""
    outs = edges.select(F.col("src").alias("node")).withColumn(
        "o", F.lit(1)
    ).withColumn("i", F.lit(0))
    ins = edges.select(F.col("dst").alias("node")).withColumn(
        "o", F.lit(0)
    ).withColumn("i", F.lit(1))
    return (
        outs.unionByName(ins)
        .groupBy("node")
        .agg(
            F.sum("o").alias("out_degree"),
            F.sum("i").alias("in_degree"),
            F.count(F.lit(1)).alias("degree"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: "DataFrame | list[str]",
    *,
    max_depth: int = 20,
    direction: str = "out",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Multi-source BFS: (node, dist) with dist = fewest hops from ANY
    seed (seeds at 0), up to `max_depth`. `direction`: 'out' follows
    edges, 'in' reverses them, 'both' treats the graph undirected.

    Level-synchronous frontier expansion with a visited anti-join —
    the same cycle-safe shape as the tree walk and the Kleene closure
    (tree.py / bgp.py): each level is one equi-join frontier x edges
    plus one anti-join against visited, lineage checkpointed every few
    levels; stops early on an empty frontier. Unreachable nodes are
    absent (no sentinel rows)."""
    if direction not in ("out", "in", "both"):
        raise ValueError(f"bfs_distances: bad direction {direction!r}")
    if isinstance(seeds, DataFrame):
        # cut the caller's seed lineage once
        seeds = seeds.select("node").distinct().localCheckpoint()
    else:
        # a driver list is already a constant LocalRelation
        seeds = local_frame(
            edges.sparkSession,
            [(s,) for s in dict.fromkeys(seeds)],
            "node string",
        )
    e = edges.select("src", "dst")
    if direction == "in":
        e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    elif direction == "both":
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct()
    visited = seeds.withColumn("dist", F.lit(0))
    frontier = visited.select("node")
    levels = [visited]
    for depth in range(1, int(max_depth) + 1):
        nxt = (
            e.join(
                frontier.select(F.col("node").alias("src")), "src",
                "leftsemi",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        if depth % checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        levels.append(nxt)
        visited = visited.unionByName(nxt)
        if depth % checkpoint_every == 0:
            visited = visited.localCheckpoint(eager=True)
        frontier = nxt.select("node")
    out = levels[0]
    for df in levels[1:]:
        out = out.unionByName(df)
    return out


def k_core(
    edges: DataFrame, k: int, *, max_iter: int = 200
) -> DataFrame:
    """Nodes of the k-core of the undirected simple graph: the maximal
    subgraph where every node has degree >= k (direction and
    self-loops ignored). The classic peeling fixpoint: drop nodes with
    degree < k, recompute, repeat — each round is one aggregation plus
    two semi-joins on node ids (the full adjacency never joins
    itself), rounds are localCheckpointed, and the loop stops when the
    surviving-edge count is stable. Degeneracy-bounded round count in
    practice; `max_iter` is a guard, exceeded only by adversarial
    chains (a chain peels one layer per round)."""
    k = int(k)
    if k < 1:
        raise ValueError("k_core: k must be >= 1")
    und = _canonical_undirected(edges)
    cur = und.select(
        F.col("a").alias("node"), F.col("b").alias("peer")
    ).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("peer"))
    ).localCheckpoint()
    n_edges = cur.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        keep = (
            cur.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("node")
        )
        nxt = cur.join(keep, "node", "leftsemi").join(
            keep.select(F.col("node").alias("peer")), "peer", "leftsemi"
        ).localCheckpoint()
        n_next = nxt.count()
        cur = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    else:
        raise RuntimeError(f"k_core: no fixpoint in {max_iter} rounds")
    return cur.select("node").distinct()


def link_prediction_scores(
    edges: DataFrame,
    *,
    min_common: int = 1,
    max_middle_degree: int | None = None,
) -> DataFrame:
    """Link-prediction features for every NON-edge pair at distance 2
    (the standard candidate set — pairs with no common neighbor score
    0 in all three metrics): (a, b, common_neighbors, jaccard,
    adamic_adar), a < b.

    One 2-path join through the middle node generates the candidate
    pairs; existing edges drop with an anti-join; one aggregation
    computes the metrics. The middle-node fan-out is deg(m)^2 — the
    honest hub cost of common-neighbor features. `max_middle_degree`
    caps it by skipping super-hub middles (standard at web scale: a
    10M-degree hub contributes 1/log(10M) ~= 0.06 per pair to
    Adamic-Adar but 10^14 candidate pairs; document the cap when you
    use it — scores through skipped middles are lost, so the result
    is a LOWER bound for pairs touching hubs). Exact by default."""
    und = _canonical_undirected(edges)
    both = und.select(
        F.col("a").alias("node"), F.col("b").alias("peer")
    ).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("peer"))
    )
    deg = both.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    mid = both.join(deg, "node").select(
        F.col("node").alias("m"),
        F.col("peer").alias("x"),
        F.col("deg").alias("m_deg"),
    )
    if max_middle_degree is not None:
        mid = mid.where(F.col("m_deg") <= int(max_middle_degree))
    pairs = (
        mid.select("m", F.col("x").alias("a"), "m_deg")
        .join(mid.select("m", F.col("x").alias("b")), "m")
        .where(F.col("a") < F.col("b"))
        .join(
            und.select(
                F.col("a"), F.col("b"), F.lit(1).alias("_e")
            ),
            ["a", "b"],
            "left_anti",
        )
    )
    scores = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(1.0 / F.log(F.col("m_deg"))).alias("adamic_adar"),
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    return (
        scores.where(F.col("common_neighbors") >= int(min_common))
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            (
                F.col("common_neighbors")
                / (F.col("da") + F.col("db") - F.col("common_neighbors"))
            ).alias("jaccard"),
            "adamic_adar",
        )
    )


def connected_components(
    edges: DataFrame, *, max_iter: int = 20, stats: dict | None = None
) -> DataFrame:
    """Weakly connected components of the edge view: {node, component}
    with component = min node id of the component.

    Thin adapter over the alternating large-star/small-star machinery
    the dedup funnel runs in production (operators/dedup.py
    connected_components_star — O(log^2 n) rounds, chain-safe,
    equivalence-locked against label propagation there). Direction is
    ignored (weak components); isolated nodes don't appear because the
    edge view has no rows for them."""
    from triplestore_spark.operators.dedup import connected_components_star

    pairs = edges.where(F.col("src") != F.col("dst")).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    out = connected_components_star(pairs, max_iter=max_iter, stats=stats)
    return out.select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("component")
    )


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    iterations: int = 20,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Damped PageRank by power iteration over the directed edge view.

    rank_0 = 1/N; each step every node sends rank*d/out_degree along
    its edges, dangling mass (out_degree 0) is spread uniformly, and
    (1-d)/N teleports. Mass sums to 1 after every step (asserted in
    tests), so the result is partition-order independent up to float
    association. Returns {node, rank} for every node that appears as
    src or dst."""
    if iterations < 1:
        raise ValueError("pagerank: iterations must be >= 1")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    ).cache()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    state = nodes.join(outdeg, "node", "left").select(
        "node",
        F.coalesce(F.col("out_degree"), F.lit(0)).alias("out_degree"),
        F.lit(1.0 / n).alias("rank"),
    ).cache()
    for it in range(iterations):
        dangling = (
            state.where(F.col("out_degree") == 0)
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            edges.join(state, edges["src"] == state["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_degree")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        base = (1.0 - damping) / n + damping * dangling / n
        new_state = (
            state.drop("rank")
            .join(contribs, "node", "left")
            .select(
                "node",
                "out_degree",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        # cut lineage so the plan doesn't deepen linearly (same
        # protocol as the BGP closure walk)
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            new_state = new_state.localCheckpoint(eager=True)
        old, state = state, new_state.cache()
        old.unpersist()
    nodes.unpersist()
    return state.select("node", "rank")
