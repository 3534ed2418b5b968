from triplestore_spark.pipeline.corpus import build_corpus
from triplestore_spark.pipeline.curate import CurationResult, curate
from triplestore_spark.pipeline.extract import (
    extract_all_candidates_direct,
    extract_mention_surfaces_direct,
)
from triplestore_spark.pipeline.resolve import resolve_mentions, gazetteer_df
from triplestore_spark.pipeline.run import run_pipeline

__all__ = [
    "build_corpus",
    "CurationResult",
    "curate",
    "extract_all_candidates_direct",
    "extract_mention_surfaces_direct",
    "resolve_mentions",
    "gazetteer_df",
    "run_pipeline",
]
