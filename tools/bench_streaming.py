"""Streaming-ingest throughput evidence.

Generates a directory of NT files from the sf0.1 canonical pipeline
output (replicated to --triples), runs the exactly-once bucketed
ingest (streaming/ingest.stream_into_source, availableNow) with a
compaction cadence, and reports wall time, triples/s, dedup
correctness, file counts before/after compaction, and that no
crash-recovery markers remain.

Usage: python tools/bench_streaming.py [--files 64] [--replicate 4] [--round N]
Writes BENCH/STREAMING_r{N}.txt.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--files", type=int, default=64)
    ap.add_argument("--replicate", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--round", type=int, default=4)
    args = ap.parse_args()

    from triplestore_spark.pipeline.run import run_pipeline
    from triplestore_spark.session import get_spark
    from triplestore_spark.sources.ntriples import nt_encode_expr
    from triplestore_spark.streaming.ingest import (
        compact_sink,
        read_sink,
        stream_into_source,
    )

    spark = get_spark("stream-bench", cpus=args.cpus,
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    canon = run_pipeline(spark, args.sf)
    reps = spark.range(args.replicate).select(F.col("id").alias("rep"))
    big = (
        canon.crossJoin(F.broadcast(reps))
        .withColumn("subject", F.concat("subject", F.lit("#"), "rep"))
        .drop("rep")
    )
    work = tempfile.mkdtemp(prefix="ts_streambench_")
    in_dir = os.path.join(work, "in")
    # ~50% overlap across files exercises the dedup merge for real
    from triplestore_spark.functions.keys import with_keys

    keyed = with_keys(big.select(
        "subject", "subject_is_bnode", "predicate", "object_kind",
        "object_value", "object_type", "object_lang",
    ))
    keyed = keyed.persist()
    n_unique = keyed.select("tkey").distinct().count()
    lines = keyed.select(nt_encode_expr().alias("value"))
    lines.repartition(args.files).write.mode("overwrite").text(in_dir)
    # duplicate every second file in place: exercises the dedup merge
    for i, f in enumerate(sorted(glob.glob(os.path.join(in_dir, "part-*")))):
        if i % 2 == 0:
            shutil.copy(f, f + ".dup.txt")

    table_dir = os.path.join(work, "table")
    cp_dir = os.path.join(work, "cp")
    t0 = time.time()
    q = stream_into_source(spark, in_dir, table_dir, cp_dir,
                           compact_every=10)
    finished = q.awaitTermination(600)
    elapsed = time.time() - t0
    if not finished:
        # never compact concurrently with a live writer (ingest.py's
        # serialization guarantee) — fail the run instead
        q.stop()
        print(json.dumps({"pass": False, "error": "ingest timed out"}))
        sys.exit(1)

    data_path = os.path.join(table_dir, "triples.parquet")
    files_before = len(glob.glob(os.path.join(data_path, "*", "*.parquet")))
    compact_sink(spark, table_dir)
    files_after = len(glob.glob(os.path.join(data_path, "*", "*.parquet")))
    got = read_sink(spark, table_dir)
    n_sink = got.count()
    n_distinct = got.select("tkey").distinct().count()
    dedup_exact = n_sink == n_unique == n_distinct
    markers_ok = not os.path.exists(data_path + "._old") and not os.path.exists(
        data_path + "._compacting"
    )
    ok = dedup_exact and markers_ok

    out = {
        "input_nt_files": len(glob.glob(os.path.join(in_dir, "part-*"))),
        "unique_triples": n_unique,
        "ingest_sec": round(elapsed, 2),
        "triples_per_sec": round(n_unique / elapsed, 1),
        "sink_rows": n_sink,
        "dedup_exact": dedup_exact,
        "files_before_compact": files_before,
        "files_after_compact": files_after,
        "no_crash_markers": markers_ok,
        "pass": ok,
    }
    print(json.dumps(out))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(
        os.path.join(repo, "BENCH", f"STREAMING_r{args.round:02d}.txt"), "w"
    ) as f:
        f.write(
            "# Streaming ingest evidence (tools/bench_streaming.py)\n\n"
            "Exactly-once bucketed NT ingest (availableNow); every second\n"
            "original file duplicated to exercise the dedup merge, then\n"
            "one compaction pass.\n\n"
            + json.dumps(out, indent=2)
            + "\n"
        )
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
