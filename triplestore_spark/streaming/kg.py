"""Streaming knowledge-graph construction.

The batch flagship (pipeline/run.py) is extract -> resolve ->
canonical dedup over a documents table. This module is its LIVE
counterpart: a continuously-growing directory of documents parquet
files, each micro-batch running the SAME extraction + entity
resolution (pipeline.run.candidate_triples — span-preserving corpus
build, gazetteer broadcast/salted join, media + metadata melts) and
dedup-merging the keyed candidates into the bucketed canonical triple
sink from streaming/ingest.py.

Exactly-once composition, end to end:
- Spark's file-source WAL guarantees each input file enters exactly
  one micro-batch (resume replays uncommitted batches).
- merge_batch_into_sink is IDEMPOTENT: within-batch dropDuplicates on
  tkey, then a left-anti join against exactly the bucket partitions
  the batch touches — a replayed batch, or the same document arriving
  twice in different files, collapses to the canonical set. The
  result is bit-identical to running the batch pipeline over the
  union of all files (pinned by test_streaming_kg).
- Scan volume per batch is bounded by touched buckets, not table
  size, so continuous construction does not degrade as the KG grows.

Scale notes: extraction/ER is embarrassingly parallel per document
(the gazetteer side is a broadcast), so the only shuffle per batch is
the merge's anti-join on the bucket subset; compaction cadence bounds
fragment growth exactly as for NT ingest. At 10^12-document scale the
same topology holds — file-source backpressure via
maxFilesPerTrigger, one sink, monotone growth.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from triplestore_spark.session import local_frame
from triplestore_spark.streaming.ingest import (
    COMPACTION_LOCK_LEASE_MS,
    DEFAULT_BUCKETS,
    compact_sink,
    merge_batch_into_sink,
)


def stream_documents(
    spark: SparkSession,
    in_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of documents parquet files. The schema is
    required by Structured Streaming before any file exists; by
    default it is inferred from the files already present (there must
    be at least one). `max_files_per_trigger` bounds extraction work
    per micro-batch (backpressure at 10^12-document scale)."""
    if schema is None:
        schema = spark.read.parquet(in_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(in_dir)


def stream_documents_into_kg(
    spark: SparkSession,
    in_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    *,
    schema=None,
    strategy: str = "broadcast",
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    compact_every: int | None = 50,
    lock_lease_ms: int = COMPACTION_LOCK_LEASE_MS,
):
    """Run (or resume) streaming KG construction: new documents
    parquet files under in_dir -> extraction + entity resolution ->
    canonical keyed triples dedup-merged into the bucketed sink at
    table_dir. Returns the StreamingQuery.

    `strategy` is the ER join strategy ('broadcast' or 'salted', as
    pipeline.resolve). Read the result with
    streaming.ingest.read_sink; it equals the batch pipeline run over
    the union of all ingested files, exactly once, regardless of
    batch boundaries, replays, or cross-file duplicate documents.
    """
    from triplestore_spark.functions.keys import with_keys
    from triplestore_spark.pipeline.run import candidate_triples

    stream = stream_documents(spark, in_dir, schema, max_files_per_trigger)
    data_path = os.path.join(table_dir, "triples.parquet")
    metrics_dir = os.path.join(table_dir, "_batch_metrics")

    def build_and_merge(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        n_docs = batch_df.count()
        # persist: the merge and the metrics row both consume the
        # extraction — without this the ER join would run twice
        triples = with_keys(
            candidate_triples(sess, batch_df, strategy)
        ).persist()
        merge_batch_into_sink(
            triples, data_path, n_buckets, lock_lease_ms=lock_lease_ms
        )
        # per-batch lineage metrics (north_rule: triple-count metrics
        # alongside the engine's WAL): one row per micro-batch, written
        # AFTER the merge commits so a replayed batch overwrites its own
        # row idempotently (partitioned by batch_id)
        import time as _time

        local_frame(
            sess,
            [(batch_id, n_docs, triples.count(), _time.time())],
            "batch_id long, n_docs long, n_candidate_triples long, ts double",
        ).write.mode("overwrite").parquet(
            os.path.join(metrics_dir, f"batch_id={batch_id}")
        )
        triples.unpersist()
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_sink(
                sess, table_dir, lock_lease_ms=lock_lease_ms
            )

    writer = stream.writeStream.foreachBatch(build_and_merge).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_batch_metrics(spark: SparkSession, table_dir: str) -> DataFrame:
    """Per-micro-batch lineage metrics of a streamed KG: (batch_id,
    n_docs, n_candidate_triples, ts). One row per committed batch;
    replays overwrite their own row, so the table stays exactly-once
    like the sink itself."""
    return spark.read.parquet(os.path.join(table_dir, "_batch_metrics"))
