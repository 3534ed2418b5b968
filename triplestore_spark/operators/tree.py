"""Tree traversal over an RDFGraph (reference tree.go).

A tree view is (graph, predicate): edges are triples of that
predicate with resource objects (reference tree.go:8-24). The
reference recurses per node with O(1) index lookups; at Spark scale
the equivalent is LEVEL-SYNCHRONOUS FRONTIER EXPANSION — one join per
depth level against the checkpointed edge set, not one query per node.

`descendants`/`ancestors` return distributed (node, depth, path)
DataFrames; `traverse_dfs`/`traverse_ancestors` then produce the
reference's exact pre-order visit sequence (children visited in
ascending resource order, reference tree.go:48/75) by sorting the
accumulated paths driver-side — correct because a DFS pre-order is
exactly the lexicographic order of root-to-node paths when siblings
are ordered.

Like the reference, no cycle detection (tree.go's contract: the graph
must be a tree); `max_depth` is a safety valve.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triplestore_spark.operators.graph import RDFGraph, edge_view
from triplestore_spark.session import checkpoint_level, local_frame


class Tree:
    def __init__(self, graph: RDFGraph, predicate: str):
        if graph is None:
            raise ValueError("given RDF graph is None")
        self._g = graph
        self.predicate = predicate

    def edges(self) -> DataFrame:
        """(parent, child) edge set: triples of the tree predicate
        pointing at resource objects (reference tree.go:37-46)."""
        return edge_view(self._g, self.predicate).select(
            F.col("src").alias("parent"), F.col("dst").alias("child")
        )

    # -- distributed traversals: frontier joins per level --

    def descendants(self, root: str, max_depth: int = 64) -> DataFrame:
        """(node, depth, path) for the subtree under `root`.

        path = array of nodes from root to node; used both for exact
        DFS ordering and as lineage."""
        return self._walk(root, "parent", "child", max_depth)

    def ancestors_df(self, node: str, max_depth: int = 64) -> DataFrame:
        """(node, depth, path) walking parent edges upward
        (reference tree.go:58-82 uses WithPredObj per node)."""
        return self._walk(node, "child", "parent", max_depth)

    def _walk(
        self, start: str, src: str, dst: str, max_depth: int
    ) -> DataFrame:
        """Frontier join per level along `src` -> `dst` edges, every
        path kept (a tree has one path per node). The edge set is
        localCheckpoint'ed once, a plan leaf each level joins; each
        level is one checkpoint_level whose own job counts its rows,
        so the plan stays flat at any depth and no cache outlives the
        call."""
        edges = self.edges().localCheckpoint(eager=True)
        frontier = local_frame(
            edges.sparkSession,
            [(start, 0, [start])],
            "node string, depth int, path array<string>",
        )
        out = frontier
        for _ in range(max_depth):
            frontier, found = checkpoint_level(
                frontier.join(edges, frontier["node"] == edges[src]).select(
                    F.col(dst).alias("node"),
                    (F.col("depth") + 1).alias("depth"),
                    F.concat(F.col("path"), F.array(F.col(dst))).alias(
                        "path"
                    ),
                ),
                F.count(F.lit(1)),
            )
            if found == 0:
                break
            out = out.unionByName(frontier)
        return out

    # -- exact reference visit order --

    def traverse_dfs(
        self,
        root: str,
        each: Optional[Callable[[str, int], None]] = None,
        max_depth: int = 64,
    ) -> list[tuple[str, int]]:
        """Pre-order DFS, children ascending (reference tree.go:27-55).
        Returns [(node, depth)] in visit order."""
        rows = self.descendants(root, max_depth).collect()
        visits = sorted((tuple(r["path"]) for r in rows))
        out = [(p[-1], len(p) - 1) for p in visits]
        if each:
            for node, depth in out:
                each(node, depth)
        return out

    def traverse_ancestors(
        self,
        node: str,
        each: Optional[Callable[[str, int], None]] = None,
        max_depth: int = 64,
    ) -> list[tuple[str, int]]:
        """Upward walk, parents ascending per level
        (reference tree.go:58-82)."""
        rows = self.ancestors_df(node, max_depth).collect()
        visits = sorted(tuple(r["path"]) for r in rows)
        out = [(p[-1], len(p) - 1) for p in visits]
        if each:
            for n, d in out:
                each(n, d)
        return out

    def traverse_siblings(
        self,
        node: str,
        criteria: Callable[[RDFGraph, str], str],
        each: Optional[Callable[[str, int], None]] = None,
    ) -> list[tuple[str, int]]:
        """Same-parent nodes whose criteria matches the node's
        (reference tree.go:85-127): 0 parents -> the node itself;
        >1 parents -> error."""
        parents = [
            r["parent"]
            for r in self.edges().where(F.col("child") == node).collect()
        ]
        if not parents:
            out = [(node, 0)]
        elif len(parents) > 1:
            raise ValueError(
                f"tree[{self.predicate}]: node {node} with more than 1 parent"
            )
        else:
            childs = sorted(
                r["child"]
                for r in self.edges()
                .where(F.col("parent") == parents[0])
                .collect()
            )
            node_crit = criteria(self._g, node)
            out = [
                (c, 0) for c in childs if criteria(self._g, c) == node_crit
            ]
        if each:
            for n, d in out:
                each(n, d)
        return out
