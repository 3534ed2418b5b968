"""owl:sameAs canonicalization: merge equivalent entities.

A KG-construction pipeline that links entities across sources emits
equivalence edges (owl:sameAs, skos:exactMatch, a custom kg:sameAs).
Canonicalization rewrites every triple so each equivalence class
speaks through ONE representative — the step between entity linking
and a queryable graph. The reference engine has no analog (its store
is already canonical); this is the LLM-KG-pipeline operator built
Spark-first on machinery this repo already scales:

1. The equivalence edges (tiny relative to the fact table — one edge
   per cross-source link) feed the alternating large-star/small-star
   connected components (operators/dedup.py, O(log^2 n) rounds,
   Kiveris SoCC'14) over NODE KEYS, yielding (key, representative =
   component-min key). Min-key choice makes the representative
   deterministic and idempotent.
2. The fact table rewrites through TWO left joins (subject key,
   object key) + coalesce — each a plain equi-join Spark broadcasts
   when the mapping is small (the common case: components number in
   the thousands while facts number in the billions) and
   shuffle-joins otherwise. The triple text never moves for the map.
3. Merging creates duplicates ('<a> p o' and '<b> p o' collapse when
   a≡b), so the result runs through the engine's component-column
   dedup (operators/graph.py dedup_triples — the same shuffle
   discipline as the core Add path).

Scale notes: the CC runs on the EDGE set only, never the fact table;
the rewrite is two narrow-key joins; the final dedup is the one
fact-sized shuffle — identical in shape to the pipeline's existing
canonicalization stage, so anything that holds at 100 TB there holds
here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.functions.keys import subject_key_expr

__all__ = ["equivalence_classes", "merge_equivalents"]


def _object_key_col() -> F.Column:
    # resource/bnode objects only — callers filter on object_kind
    return F.when(
        F.col("object_kind") == "bnode",
        F.concat(F.lit("_:"), F.col("object_value")),
    ).otherwise(F.concat(F.lit("<"), F.col("object_value"), F.lit(">")))


def equivalence_classes(
    df: DataFrame,
    sameas_pred: str = "owl:sameAs",
    *,
    max_iter: int = 20,
) -> DataFrame:
    """(node_key, rep_key) for every node in a sameAs component,
    rep = component-minimum node key (deterministic, idempotent).
    Identity rows (singletons) are NOT emitted — the rewrite treats
    an absent key as 'already canonical'. A sameAs triple with a
    LITERAL object is a data error and raises (an entity cannot be
    the same individual as a literal)."""
    from triplestore_spark.operators.dedup import connected_components_star

    edges = df.where(F.col("predicate") == sameas_pred)
    n_lit = edges.where(F.col("object_kind") == "lit").limit(1).take(1)
    if n_lit:
        raise ValueError(
            f"merge_equivalents: {sameas_pred} triple with a literal "
            "object — equivalence links resources/bnodes only"
        )
    pairs = edges.select(
        subject_key_expr().alias("doc_a"),
        _object_key_col().alias("doc_b"),
    ).where(F.col("doc_a") != F.col("doc_b"))
    labels = connected_components_star(pairs, max_iter=max_iter)
    return labels.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("node_key"),
        F.col("cluster_id").alias("rep_key"),
    )


def merge_equivalents(
    df: DataFrame,
    sameas_pred: str = "owl:sameAs",
    *,
    keep_links: bool = False,
    max_iter: int = 20,
) -> DataFrame:
    """Rewrite every triple through its subject's and object's
    equivalence-class representative and drop the (now internal)
    sameAs edges; the result is deduped on component columns.
    `keep_links=True` retains the sameAs triples (rewritten — they
    become reflexive rep->rep edges, deduped to one per class pair).
    Idempotent: a second merge is a no-op."""
    from triplestore_spark.operators.graph import dedup_triples

    classes = equivalence_classes(
        df, sameas_pred, max_iter=max_iter
    )

    facts = df if keep_links else df.where(
        F.col("predicate") != sameas_pred
    )

    # subject rewrite: join on the subject node key
    smap = classes.select(
        F.col("node_key").alias("__sk"), F.col("rep_key").alias("__srep")
    )
    out = facts.withColumn("__sk", subject_key_expr()).join(
        smap, on="__sk", how="left"
    )
    s_is_b = F.col("__srep").startswith("_:")
    out = out.select(
        F.when(
            F.col("__srep").isNull(), F.col("subject")
        ).when(s_is_b, F.expr("substring(__srep, 3)")).otherwise(
            F.expr("substring(__srep, 2, length(__srep) - 2)")
        ).alias("subject"),
        F.when(F.col("__srep").isNull(), F.col("subject_is_bnode"))
        .otherwise(s_is_b).alias("subject_is_bnode"),
        "predicate", "object_kind", "object_value",
        "object_type", "object_lang",
    )

    # object rewrite: resources/bnodes only (literals never merge)
    omap = classes.select(
        F.col("node_key").alias("__ok"), F.col("rep_key").alias("__orep")
    )
    out = out.withColumn(
        "__ok",
        F.when(
            F.col("object_kind") != "lit", _object_key_col()
        ),
    ).join(omap, on="__ok", how="left")
    o_is_b = F.col("__orep").startswith("_:")
    out = out.select(
        "subject", "subject_is_bnode", "predicate",
        F.when(F.col("__orep").isNull(), F.col("object_kind"))
        .when(o_is_b, F.lit("bnode")).otherwise(F.lit("res"))
        .alias("object_kind"),
        F.when(
            F.col("__orep").isNull(), F.col("object_value")
        ).when(o_is_b, F.expr("substring(__orep, 3)")).otherwise(
            F.expr("substring(__orep, 2, length(__orep) - 2)")
        ).alias("object_value"),
        "object_type", "object_lang",
    )
    if keep_links:
        # rewritten links collapse to rep->rep; drop the reflexive
        # self-loops the rewrite creates inside a class
        out = out.where(
            ~(
                (F.col("predicate") == sameas_pred)
                & (F.col("object_kind") != "lit")
                & (F.col("subject") == F.col("object_value"))
                & (
                    (F.col("object_kind") == "bnode")
                    == F.col("subject_is_bnode")
                )
            )
        )
    return dedup_triples(out.select(*S.TRIPLE_FIELDS))
