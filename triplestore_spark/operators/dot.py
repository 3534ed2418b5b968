"""DOT graph sink (reference encode.go:248-305).

Given one predicate: emit `digraph` with `"s" -> "o";` edges for
resource objects, plus `"n" [label="n<type>"];` node labels pulled
from rdf:type lookups. The reference memoizes per-node type queries
(encode.go:264-277); the Spark realization replaces N point lookups
with ONE join of the edge node set against the rdf:type triples
(SURVEY.md J1), then formats driver-side (DOT output is a small
driver artifact by nature).

Edge iteration order is the reference's snapshot-map order (random);
its test asserts line membership only, so we iterate edges sorted for
determinism, emitting each node's labels at first encounter like the
reference does.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from triplestore_spark.operators.graph import RDFGraph, edge_view


def encode_dot(graph: RDFGraph, predicate: str) -> str:
    edges_df = edge_view(graph, predicate)
    types_df = edge_view(graph, "rdf:type").select(
        F.col("src").alias("node"), F.col("dst").alias("typ")
    )
    nodes = (
        edges_df.select(F.col("src").alias("node"))
        .unionByName(edges_df.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.join(types_df, on="node", how="inner")

    edge_rows = sorted(
        (r["src"], r["dst"]) for r in edges_df.distinct().collect()
    )
    label_map: dict[str, list[str]] = {}
    for r in labels.collect():
        label_map.setdefault(r["node"], []).append(r["typ"])

    out = [f'digraph "{predicate}" {{']
    seen: set[str] = set()
    for src, dst in edge_rows:
        out.append(f'"{src}" -> "{dst}";')
        for node in (src, dst):
            if node not in seen:
                seen.add(node)
                for typ in sorted(label_map.get(node, [])):
                    out.append(f'"{node}" [label="{node}<{typ}>"];')
    out.append("}")
    return "\n".join(out)
