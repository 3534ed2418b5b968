"""Whole-graph analytics over the KG edge view: exact triangle
counting (community density) and multi-source BFS distances.

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
- `bfs_distances` is the Kleene closure's level step (bgp._reach)
  keyed by node alone.

Both take the same (src, dst) edge frame `edge_view` builds from a
predicate (operators/graph.edge_view, re-exported here: resource
objects only, the frame Tree.edges reads — tree.go:37-46).
Weakly connected components of an edge view are
dedup.connected_components_star over its (src, dst) pairs.
Differential evidence: tests/test_graph_algos.py checks triangles
against a DuckDB 3-way self-join oracle (exact integers) and BFS
against an independent queue BFS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triplestore_spark.operators.bgp import _reach
from triplestore_spark.operators.graph import edge_view
from triplestore_spark.session import local_frame

__all__ = [
    "edge_view",
    "triangle_count",
    "bfs_distances",
]


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


def bfs_distances(
    edges: DataFrame,
    seeds: "DataFrame | list[str]",
    *,
    max_depth: int = 20,
    direction: str = "out",
) -> DataFrame:
    """Multi-source BFS: (node, dist) with dist = fewest hops from ANY
    seed (seeds at 0), up to `max_depth`. `direction`: 'out' follows
    edges, 'in' reverses them, 'both' treats the graph undirected.

    The Kleene closure's level step (bgp._reach) keyed by node alone:
    one depth-tagged reached set where dist is the level a node was
    first reached, each level one frontier join against the
    checkpointed edge set plus a min-depth merge, checkpointed with
    the level's new-node count observed in the same job; stops early
    at the first level that reaches nothing new. Unreachable nodes
    are absent (no sentinel rows)."""
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
    src, dst = ("dst", "src") if direction == "in" else ("src", "dst")
    e = edges.select(F.col(src).alias("_cs"), F.col(dst).alias("_cd"))
    if direction == "both":
        e = e.unionByName(
            edges.select(F.col(dst).alias("_cs"), F.col(src).alias("_cd"))
        )
    reached, _ = _reach(
        seeds.select(F.col("node").alias("_b"), F.lit(0).alias("_l")),
        e.distinct().localCheckpoint(eager=True),
        int(max_depth),
    )
    return reached.select(F.col("_b").alias("node"), F.col("_l").alias("dist"))
