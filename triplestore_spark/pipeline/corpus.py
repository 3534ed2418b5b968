"""Deterministic interleaved text+media corpus builder.

Turns the flat synthetic `documents` table into the pipeline's input
shape (BASELINE.json input_hint): (doc_id:string,
spans:array<struct<kind,text,media_ref,offset>>).

Entirely Catalyst higher-order functions (transform/slice/flatten) —
zero shuffles, zero Python: the corpus build is a narrow map over the
document scan, so it scales linearly with input splits at any SF.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from triplestore_spark.pipeline import spec
from triplestore_spark.storage import list_files


def _estimated_scan_partitions(spark: SparkSession, path: str) -> int:
    """Estimate the scan's task count from file sizes (ceil(bytes /
    maxPartitionBytes) summed per file). Matches Spark's split packing
    closely enough for the under-split test below, and costs one file
    listing instead of converting the plan to an RDD (~50 ms per
    pipeline construction, measured)."""
    import re

    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b"
    ).lower()
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", raw)
    if m:
        mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        max_bytes = int(m.group(1)) * mult[m.group(2)]
    else:
        max_bytes = 128 * 1024 * 1024
    total = sum(
        max(1, -(-size // max_bytes)) for _, size, _ in list_files(spark, path)
    )
    return max(1, total)


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from triplestore_spark.session import read_parquet_table

    path = os.path.join(sf_dir, "documents.parquet")
    docs = read_parquet_table(spark, path)
    # The synthetic corpus ships as ONE parquet row group, so the scan
    # cannot be split by maxPartitionBytes and everything before the
    # first exchange would run on one core. Repartition to the
    # session's parallelism ONLY when the scan is under-split —
    # at real scale (many files/row groups) the condition never fires
    # and no shuffle is added. The shuffle moves the raw documents
    # once, before the ~10x row expansion of extraction. Hash
    # partitioning on doc_id (unique, deterministic) instead of
    # round-robin: a keyless repartition must pre-sort its input for
    # retry determinism (spark.sql.execution.sortBeforeRepartition,
    # guide §2.5) — one wasted single-task sort of the whole corpus
    # here — while a deterministic key needs no sort and cannot
    # duplicate/lose rows under fetch-failure replays.
    target = spark.sparkContext.defaultParallelism
    if _estimated_scan_partitions(spark, path) < target:
        docs = docs.repartition(target, F.col("doc_id"))
    return docs


def build_corpus(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, ...) -> (doc_id, spans) per the spec."""
    W = spec.CHUNK_WORDS
    words = F.split(F.col("text"), " ")
    n_chunks = F.floor((F.size(words) + W - 1) / W).cast("int")

    def text_span(j):
        return F.struct(
            F.lit("text").alias("kind"),
            F.array_join(F.slice(words, j * W + 1, W), " ").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )

    def media_span(j):
        return F.struct(
            F.lit("image").alias("kind"),
            F.lit("").alias("text"),
            F.concat(
                F.lit("media://"), F.col("doc_id"), F.lit("/"), j
            ).alias("media_ref"),
            F.lit(0).alias("offset"),
        )

    interleaved = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda j: F.when(
                (F.col("doc_id") * 31 + j) % spec.MEDIA_EVERY == 0,
                F.array(text_span(j), media_span(j)),
            ).otherwise(F.array(text_span(j))),
        )
    )
    # stamp the final position index into `offset`
    spans = F.transform(
        interleaved,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    empty = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    # two selects: the span lambdas capture the outer `doc_id`, which
    # must not be shadowed by the 'doc:'-prefixed output alias
    with_spans = docs.select(
        "doc_id",
        F.when(F.size(words) > 0, spans).otherwise(empty).alias("spans"),
    )
    return with_spans.select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("doc_id"), "spans"
    )


def reassemble_text(corpus: DataFrame) -> DataFrame:
    """Inverse of build_corpus for the span-sequence invariant: join
    the text spans back with single spaces (media spans contribute
    nothing)."""
    return corpus.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text"),
    )
