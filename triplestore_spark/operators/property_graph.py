"""Property-graph export: project the canonical triple table into the
(vertices, edges) DataFrame pair every downstream graph system
consumes (GraphX / GraphFrames / graph DBs / GNN loaders).

Projection rules (the standard RDF -> LPG mapping):

- resource-valued triples (except rdf:type) become EDGES
  (src, label, dst) — label is the predicate;
- rdf:type triples become the vertex `labels` array (sorted);
- literal-valued triples become vertex `props`:
  map<predicate, array<value>> — ARRAY values because RDF properties
  are multi-valued (two kg:name literals must not silently collapse;
  Spark's default map-key dedup policy would throw, and last-wins
  would be a silent wrong answer). Values are sorted for determinism.
- every subject AND every resource object is a vertex, including
  bnodes (their subject keys are rows, not constants).

Scale shape: edges are a filtered projection (no shuffle); vertices
are two narrow aggregations (one per (subject, predicate) for the
multi-valued props, one per subject) plus one distinct over edge
endpoints — all keyed on the subject/node id, no join touches the
full graph against itself. Output is deterministic under any
partitioning (sorted arrays, map built from sorted entries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.operators.graph import RDFGraph, as_graph, edge_view

__all__ = ["to_property_graph"]

_TYPE_PRED = "rdf:type"


def to_property_graph(
    graph: RDFGraph | DataFrame, *, type_pred: str = _TYPE_PRED
) -> tuple[DataFrame, DataFrame]:
    """-> (vertices, edges).

    vertices: (id, is_bnode, labels: array<string>,
               props: map<string, array<string>>) — labels/props empty
    (not NULL) when absent, values sorted.
    edges: (src, label, dst) — one row per resource-valued triple
    with predicate != type_pred, bag of distinct triples (the
    canonical table is already tkey-deduped)."""
    g = as_graph(graph)
    df = g._match()

    edges = df.where(
        (F.col("object_kind").isin(S.KIND_RESOURCE, S.KIND_BNODE))
        & (F.col("predicate") != type_pred)
    ).select(
        F.col("subject").alias("src"),
        F.col("predicate").alias("label"),
        F.col("object_value").alias("dst"),
    )

    labels = (
        edge_view(g, type_pred)
        .groupBy(F.col("src").alias("id"))
        .agg(F.sort_array(F.collect_set("dst")).alias("labels"))
    )

    prop_lists = (
        df.where(F.col("object_kind") == S.KIND_LITERAL)
        .groupBy(F.col("subject").alias("id"), F.col("predicate"))
        .agg(F.sort_array(F.collect_list("object_value")).alias("vals"))
    )
    props = prop_lists.groupBy("id").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct("predicate", "vals"))
            )
        ).alias("props")
    )

    subj = df.select(
        F.col("subject").alias("id"),
        F.col("subject_is_bnode").alias("is_bnode"),
    )
    # class IRIs stay labels, not vertices — mirror the edge filter
    obj = df.where(
        F.col("object_kind").isin(S.KIND_RESOURCE, S.KIND_BNODE)
        & (F.col("predicate") != type_pred)
    ).select(
        F.col("object_value").alias("id"),
        (F.col("object_kind") == S.KIND_BNODE).alias("is_bnode"),
    )
    vertices = (
        subj.unionByName(obj)
        .distinct()
        .join(labels, "id", "left")
        .join(props, "id", "left")
        .select(
            "id",
            "is_bnode",
            F.coalesce(
                "labels", F.array().cast("array<string>")
            ).alias("labels"),
            F.coalesce(
                "props",
                F.map_from_entries(
                    F.array().cast(
                        "array<struct<predicate:string,"
                        "vals:array<string>>>"
                    )
                ),
            ).alias("props"),
        )
    )
    return vertices, edges
