"""RDFS-lite inference materialization (subclass / subproperty).

The reference stores asserted triples only; a KG builder consuming
rdf:type data almost immediately wants the RDFS entailments
(rdfs9/rdfs11: x type C, C subClassOf* D => x type D; rdfs7:
x p y, p subPropertyOf* q => x q y). At 100 TB the right shape for
these rules is extremely asymmetric:

- the SCHEMA side (subClassOf / subPropertyOf edges) is tiny by
  nature — thousands of classes, not billions — so its transitive
  closure is computed DRIVER-SIDE (cycle-safe BFS over collected
  edges, guarded by `max_schema_edges`) and shipped as a broadcast
  literal table;
- the DATA side is one broadcast hash join + projection over the big
  triple table: no shuffle, no iteration, no fixpoint over 100 TB.
  The only wide operation is the final canonical dedup, which the
  caller already pays for graph Adds (dedup_triples).

This is the classic small-dimension/large-fact decomposition — the
same reasoning that makes the gazetteer ER join a broadcast — applied
to ontology closure. An iterative data-side fixpoint (self-joining
the big table k times) would shuffle the fact table per round and is
deliberately not offered; if the schema ever exceeds the driver
guard, close it with the star connected-components machinery instead
(operators/dedup.py) and broadcast the result.

No reference analog (wallix/triplestore has no inference); semantics
follow the public RDFS entailment rules rdfs7/rdfs9/rdfs11.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triplestore_spark.operators.graph import RDFGraph, as_graph, dedup_triples
from triplestore_spark.schema import KIND_RESOURCE
from triplestore_spark.session import local_frame

RDF_TYPE = "rdf:type"
RDFS_SUBCLASS = "rdfs:subClassOf"
RDFS_SUBPROPERTY = "rdfs:subPropertyOf"

# Hard cap on driver-built closure pairs (~2M pairs * ~100B ≈ 200 MB
# broadcast ceiling); the edge guard alone admits quadratic blowup.
_MAX_CLOSURE_PAIRS = 2_000_000


def _schema_closure(
    edges: list[tuple[str, str]], max_edges: int
) -> list[tuple[str, str]]:
    """Driver-side transitive closure of a small schema graph:
    (a, b) pairs with b reachable from a in >=1 hop. Cycle-safe
    (a member of a subclass cycle is a subclass of every member,
    itself included — the RDFS-correct reading). Guarded: a schema
    that large should not be closed on the driver."""
    if len(edges) > max_edges:
        raise ValueError(
            f"schema has {len(edges)} edges > max_schema_edges="
            f"{max_edges}; close it distributed (see module doc) or "
            "raise the guard"
        )
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out: list[tuple[str, str]] = []
    for a in adj:
        seen: set[str] = set()
        dq = deque(adj[a])
        while dq:
            b = dq.popleft()
            if b in seen:
                continue
            seen.add(b)
            dq.extend(adj.get(b, ()))
        # self-pairs from cycles stay: (x type a) => (x type a) is a
        # no-op after dedup, and dropping them would lose nothing
        out.extend((a, b) for b in sorted(seen))
        # Edge count alone doesn't bound the closure: a deep chain of
        # max_edges edges closes to O(max_edges^2) pairs — OOM on the
        # driver before the edge guard helps (ADVICE r5). Cap the
        # PAIRS too; the broadcast side must stay small regardless of
        # schema shape.
        if len(out) > _MAX_CLOSURE_PAIRS:
            raise ValueError(
                f"schema closure exceeds {_MAX_CLOSURE_PAIRS} "
                "(cls, supercls) pairs — too large to broadcast; "
                "close it distributed (see module doc)"
            )
    return out


def _collect_schema(
    g: RDFGraph, pred: str, max_edges: int
) -> list[tuple[str, str]]:
    rows = (
        g._match(p=pred)
        .where(
            (F.col("object_kind") == KIND_RESOURCE)
            & ~F.col("subject_is_bnode")
        )
        .select("subject", "object_value")
        .distinct()
        .limit(max_edges + 1)
        .collect()
    )
    return _schema_closure([(r[0], r[1]) for r in rows], max_edges)


def rdfs_expand_types(
    graph: RDFGraph | DataFrame,
    *,
    subclass_pred: str = RDFS_SUBCLASS,
    type_pred: str = RDF_TYPE,
    max_schema_edges: int = 100_000,
) -> DataFrame:
    """Materialize rdfs9+rdfs11: asserted triples PLUS an inferred
    (x, rdf:type, D) for every asserted (x, rdf:type, C) with C
    subClassOf* D. Returns the deduped canonical union (keyed)."""
    g = as_graph(graph)
    df = g._match()
    closure = _collect_schema(g, subclass_pred, max_schema_edges)
    if not closure:
        return dedup_triples(df)
    cl = F.broadcast(
        local_frame(df.sparkSession, closure, "cls string, supercls string")
    )
    types = g._match(p=type_pred).where(
        F.col("object_kind") == KIND_RESOURCE
    )
    inferred = types.join(
        cl, types["object_value"] == cl["cls"], "inner"
    ).select(
        "subject",
        "subject_is_bnode",
        "predicate",
        "object_kind",
        F.col("supercls").alias("object_value"),
        "object_type",
        "object_lang",
    )
    base = df.select(*inferred.columns)
    return dedup_triples(base.unionByName(inferred))


def rdfs_expand_properties(
    graph: RDFGraph | DataFrame,
    *,
    subproperty_pred: str = RDFS_SUBPROPERTY,
    max_schema_edges: int = 100_000,
) -> DataFrame:
    """Materialize rdfs7: asserted triples PLUS an inferred (x, q, y)
    for every asserted (x, p, y) with p subPropertyOf* q. Returns the
    deduped canonical union (keyed)."""
    g = as_graph(graph)
    df = g._match()
    closure = _collect_schema(g, subproperty_pred, max_schema_edges)
    if not closure:
        return dedup_triples(df)
    cl = F.broadcast(
        local_frame(df.sparkSession, closure, "prop string, superprop string")
    )
    inferred = df.join(
        cl, df["predicate"] == cl["prop"], "inner"
    ).select(
        "subject",
        "subject_is_bnode",
        F.col("superprop").alias("predicate"),
        "object_kind",
        "object_value",
        "object_type",
        "object_lang",
    )
    base = df.select(*inferred.columns)
    return dedup_triples(base.unionByName(inferred))
