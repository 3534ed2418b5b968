"""End-to-end pipeline: extract -> canonicalize -> dedup -> materialize.

This is the flagship flow graded by BASELINE.json: triples/sec
end-to-end on the synthetic interleaved corpus.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from triplestore_spark.operators.graph import dedup_triples
from triplestore_spark.pipeline import spec
from triplestore_spark.pipeline.corpus import read_documents
from triplestore_spark.pipeline.extract import (
    extract_all_candidates_direct,
    extract_mention_surfaces_direct,
)
from triplestore_spark.pipeline.resolve import (
    gazetteer_df,
    resolve_mentions,
)


def candidate_triples(
    spark: SparkSession,
    docs: DataFrame,
    strategy: str = "broadcast",
) -> DataFrame:
    """All candidate triples of `docs`, derived STRAIGHT from the
    documents: the interleaved-corpus span strings (build_corpus) are a
    pure intermediate here — token multiset and media chunk indices
    are functions of the raw text. Dropping the chunk-string
    materialization removed ~40% of the extraction stage's per-core
    compute (OPTIMIZATION_r07.md).

    strategy='broadcast': the gazetteer is a plan-time constant, so a
    literal-map lookup inside the single extraction pass beats even a
    broadcast join (no broadcast build per query, no join node — one
    codegen projection). Any other strategy runs the gazetteer join
    through resolve_mentions and unions it with the mention-free pass."""
    mapping = dict(spec.GAZETTEER)
    if strategy == "broadcast":
        return extract_all_candidates_direct(docs, mapping)
    surfaces = extract_mention_surfaces_direct(
        docs, candidate_surfaces=list(mapping)
    )
    mentions = resolve_mentions(
        surfaces, gazetteer_df(spark), strategy=strategy
    )
    return mentions.unionByName(extract_all_candidates_direct(docs, {}))


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_path: Optional[str] = None,
    strategy: str = "broadcast",
) -> DataFrame:
    """documents parquet -> canonical deduped triple DataFrame;
    optionally materialized as SPO/POS/OSP tables."""
    docs = read_documents(spark, sf_dir)
    # keys are computed inside dedup_triples AFTER its shuffle — never
    # ship the derived key strings through the exchange
    canon = dedup_triples(candidate_triples(spark, docs, strategy))
    if out_path:
        from triplestore_spark.operators.materialize import materialize_graph

        materialize_graph(canon, out_path)
    return canon
