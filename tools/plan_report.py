"""Dump the physical plans of the headline operators to PLANS.md.

Evidence that the plans are the ones we want at 100 TB: pushed
filters, pruned read schemas, broadcast joins on the dictionary,
whole-stage codegen on the hot paths, hash-aggregate dedup.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import tempfile

    from pyspark.sql import functions as F

    from triplestore_spark.session import get_spark

    spark = get_spark("plan-report", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from triplestore_spark.operators.graph import dedup_triples
    from triplestore_spark.operators.materialize import (
        MaterializedGraph,
        materialize_graph,
    )
    from triplestore_spark.pipeline.corpus import read_documents
    from triplestore_spark.pipeline.extract import extract_mention_surfaces_direct
    from triplestore_spark.pipeline.resolve import gazetteer_df, resolve_mentions
    from triplestore_spark.pipeline.run import run_pipeline

    sections = []

    canon = run_pipeline(spark, sf_dir)
    sections.append(
        ("Flagship pipeline (extract -> resolve -> dedup)", fmt(canon))
    )

    resolved = resolve_mentions(
        extract_mention_surfaces_direct(read_documents(spark, sf_dir)),
        gazetteer_df(spark),
    )
    sections.append(("ER broadcast join (gazetteer)", fmt(resolved)))

    tmp = tempfile.mkdtemp()
    materialize_graph(canon, f"{tmp}/g", num_partitions=8)
    g = MaterializedGraph(spark, f"{tmp}/g")
    sections.append(
        (
            "Point lookup WithSubjPred on SPO layout (PushedFilters)",
            fmt(g.with_subj_pred("doc:42", "kg:mentions")),
        )
    )
    sections.append(
        (
            "2-column projection on POS layout (pruned ReadSchema)",
            fmt(
                g.with_predicate("kg:mentions").select(
                    "subject", "object_value"
                )
            ),
        )
    )

    # round-3 operators: the plan shapes that matter at 100 TB
    from triplestore_spark.operators.similarity import lsh_topk
    from triplestore_spark.operators.textstats import (
        chunk_documents,
        pack_documents,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sections.append(
        (
            "Document chunking (sequence+explode+slice — Generate over "
            "the scan, NO shuffle)",
            fmt(chunk_documents(docs)),
        )
    )
    sections.append(
        (
            "Sequence packing, sharded (running-sum window local to "
            "each shard partition)",
            fmt(
                pack_documents(
                    docs.withColumn("shard", F.pmod("doc_id", F.lit(8))),
                    shard_col="shard",
                )
            ),
        )
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    sections.append(
        (
            "Banded-LSH top-k (bucket exchange ships (id, band, bucket) "
            "only — vectors re-join after candidate dedup)",
            fmt(lsh_topk(emb, [0, 1, 2], k=5, dim=dim)),
        )
    )

    # round-5: BGP over materialized layouts — each pattern's constant
    # lands as a PushedFilter on the layout sorted for it
    from triplestore_spark.operators.bgp import bgp_match

    sections.append(
        (
            "BGP star over SPO/POS/OSP layouts (per-pattern layout "
            "routing; every constant a PushedFilter on its sorted copy)",
            fmt(
                bgp_match(
                    g,
                    [
                        ("doc:42", "?p", "?e"),
                        ("?d", "kg:mentions", "?e"),
                    ],
                )
            ),
        )
    )

    # round-6: SPARQL aggregation — the shuffle carries grouping keys
    # + partial aggregation states only (HashAggregate partial/final)
    from triplestore_spark.operators.bgp_agg import bgp_select

    sections.append(
        (
            "SPARQL aggregation over BGP bindings (partial+final "
            "HashAggregate; only grouping keys and partial states "
            "cross the exchange, never binding rows)",
            fmt(
                bgp_select(
                    g,
                    [("?d", "kg:mentions", "?e")],
                    group_by=["?e"],
                    aggregates={
                        "n": ("count", "*"),
                        "docs": ("count_distinct", "?d"),
                    },
                )
            ),
        )
    )

    # round-6: SPARQL subquery — the inner aggregation reduces to one
    # row per entity, so the outer equi-join broadcasts the subquery
    # side (AQE) instead of shuffling the binding rows
    sections.append(
        (
            "SPARQL subquery join (joins=: aggregated solution set "
            "enters the join planner as a scan — small side "
            "broadcasts under AQE, bindings never reshuffle for it)",
            fmt(
                bgp_match(
                    g,
                    [("?d", "kg:mentions", "?e")],
                    joins=[
                        bgp_select(
                            g,
                            [("?d2", "kg:mentions", "?e")],
                            group_by=["?e"],
                            aggregates={"n": ("count", "*")},
                        ).select("e", "n")
                    ],
                )
            ),
        )
    )

    # round-6: aggregation over UNION — the arms concatenate without
    # an exchange; ONE partial+final aggregation sits on top
    from triplestore_spark.operators.bgp_agg import bgp_union

    sections.append(
        (
            "Aggregation over UNION (bag union is a partition concat "
            "— no exchange; one partial+final HashAggregate on top, "
            "same cost as aggregating a single arm)",
            fmt(
                bgp_union(
                    g,
                    [
                        [("?d", "kg:mentions", "?x")],
                        [("?d", "kg:hasMedia", "?x")],
                    ],
                    group_by=["?d"],
                    aggregates={"n": ("count", "?x")},
                )
            ),
        )
    )

    # round-6: closure over a sequence group — the composed (p/q)
    # edge relation is built ONCE (one join) and cached; each closure
    # level joins the precomposed relation
    from triplestore_spark.operators.bgp import property_path

    sections.append(
        (
            "Sequence-group closure ((p/q)*: inner hops compose into "
            "one cached edge relation; the cycle-safe frontier walk "
            "joins it once per LEVEL, not per hop)",
            fmt(
                property_path(
                    g,
                    ["(kg:mentions/kg:source)*"],
                    start="doc:42",
                )
            ),
        )
    )

    # round-6: SHACL validation — constraints are filtered scans /
    # one focus aggregation / one anti-join; predicate constants reach
    # the layout scans as pushed filters
    from triplestore_spark.operators.shacl import validate

    sections.append(
        (
            "SHACL-lite validation report (per-constraint filtered "
            "scans + one count aggregation + one class anti-join; "
            "report bounded by violations)",
            fmt(
                validate(
                    g,
                    [{
                        "name": "DocShape",
                        "target_class": "kg:Document",
                        "properties": [
                            {"path": "kg:source", "min_count": 1},
                            {"path": "kg:mentions", "class": "kg:Entity"},
                        ],
                    }],
                )
            ),
        )
    )

    # round-6: triangle counting — degree-ordered orientation bounds
    # the 2-path join fan-out by oriented out-degree
    from triplestore_spark.operators.graph_algos import (
        edge_view,
        triangle_count,
    )

    sections.append(
        (
            "Triangle counting (degree-ordered orientation: 2-path "
            "join fan-out bounded by oriented out-degree, closing "
            "edge a semi-join)",
            fmt(triangle_count(edge_view(g, "kg:mentions"))),
        )
    )

    # round-6: GNN neighborhood sampling — the per-node top-fanout
    # must run as a rank-LIMITED window (WindowGroupLimit), never a
    # full per-adjacency sort
    from triplestore_spark.operators.graph_sample import (
        sample_neighborhoods,
    )

    sections.append(
        (
            "GNN neighborhood sampling (rank-limited window — "
            "WindowGroupLimit prunes each node's adjacency to the "
            "fanout before the sort completes; hub-safe)",
            fmt(
                sample_neighborhoods(
                    edge_view(g, "kg:mentions"),
                    ["<doc:1>", "<doc:2>"],
                    [5, 3],
                )
            ),
        )
    )

    # round-6: LM perplexity scoring — the model-count joins must
    # broadcast (model is the small trusted side) so candidate text
    # never shuffles
    from triplestore_spark.operators.lm import (
        perplexity_score,
        train_ngram_lm,
    )

    docs_lm = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sections.append(
        (
            "LM perplexity scoring (model-count joins broadcast; "
            "candidate text never crosses an exchange; per-doc agg "
            "partial+final)",
            fmt(
                perplexity_score(
                    docs_lm,
                    train_ngram_lm(docs_lm.limit(200), n=2, min_count=2),
                )
            ),
        )
    )

    # round-6: filter pushdown below the BGP join + the two-pass rank
    sections.append(
        (
            "BGP with a typed FILTER (single-pattern variable: the "
            "comparison sits in the join subtree, below the shuffle)",
            fmt(
                bgp_match(
                    g,
                    [("?d", "kg:mentions", "?e"), ("?d", "kg:nchars", "?n")],
                    filters=[("?n", ">", 100, "xsd:integer")],
                )
            ),
        )
    )
    from triplestore_spark.operators.graph import rank_by_key_desc

    sections.append(
        (
            "Two-pass global rank (range partition + per-partition "
            "row_number + broadcast offsets; no single-partition "
            "WindowExec over the data)",
            fmt(
                rank_by_key_desc(
                    g.layout("spo").select("tkey"), num_partitions=8
                )
            ),
        )
    )

    # round-6: full-text search — the query side broadcasts onto the
    # postings; nothing after tokenization carries document text
    from triplestore_spark.operators.text_search import (
        bm25_search,
        build_text_index,
        tfidf_vectors,
    )

    txt_idx = build_text_index(docs.select("doc_id", "text"))
    sections.append(
        (
            "BM25 top-k search (query terms BroadcastExchange onto the "
            "postings; shuffles carry (qid, id, partial score) — never "
            "text)",
            fmt(bm25_search(txt_idx, ["data spark stream"], k=5)),
        )
    )
    sections.append(
        (
            "Hashed TF-IDF document vectors (one term join + one "
            "(id, slot) aggregation; the dense vector materializes "
            "only in the final projection)",
            fmt(tfidf_vectors(txt_idx, dim=64)),
        )
    )

    out = ["# PLANS.md — physical plans of the headline operators\n"]
    out.append(
        "Generated by tools/plan_report.py; regenerate after plan-"
        "affecting changes.\n"
    )
    for title, plan in sections:
        out.append(f"\n## {title}\n\n```\n{plan}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
