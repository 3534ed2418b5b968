"""Capture .explain('formatted') for every bench query into plans/<tag>/.

Usage: python tools/plan_capture.py <suffix> [outdir]
  suffix: 'before' or 'after' (file name suffix)
  outdir: default plans/r07

Runs no jobs except the tiny actions a plan itself needs (the
materialize write plans are captured from the DataFrame handed to the
writer). Safe to run against any checkout (used with a git worktree of
the round-start tree to produce the *_before.txt files).
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    suffix = sys.argv[1] if len(sys.argv) > 1 else "after"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "plans/r07"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    from pyspark.sql import functions as F

    from triplestore_spark.session import get_spark

    spark = get_spark("plan-capture", cpus=8, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    from triplestore_spark.operators.materialize import (
        LAYOUTS,
        MaterializedGraph,
        materialize_graph,
    )
    from triplestore_spark.queries import registry, tpch_graph_triples
    from triplestore_spark.pipeline.run import run_pipeline
    from triplestore_spark.sources.ntriples import decode_lines_df, nt_encode_expr
    from triplestore_spark import schema as S

    plans: dict[str, str] = {}

    canon = run_pipeline(spark, sf_dir)
    plans["q1_pipeline_count"] = fmt(canon.groupBy().count())

    # q2: the per-layout sorted write input plans (the write itself is
    # a sink over exactly this frame). Partition count mirrors
    # materialize_graph's default: size-derived when the fingerprint
    # carries nbytes (r7), the old shuffle-partitions constant before.
    from triplestore_spark.operators.materialize import graph_fingerprint

    fp = graph_fingerprint(canon)
    if "nbytes" in fp:
        from triplestore_spark.operators.materialize import layout_partitions

        np_ = layout_partitions(fp, spark.sparkContext.defaultParallelism)
    else:
        np_ = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bare = canon.select(*S.TRIPLE_FIELDS)
    for layout, keys in LAYOUTS.items():
        lf = bare.repartitionByRange(
            np_, *[F.col(k) for k in keys]
        ).sortWithinPartitions(*keys)
        plans[f"q2_write_{layout}"] = fmt(lf)

    # q3 needs a materialized graph on disk
    out_dir = tempfile.mkdtemp(prefix="ts_plan_")
    try:
        materialize_graph(canon, os.path.join(out_dir, "g"), force=True)
        g = MaterializedGraph(spark, os.path.join(out_dir, "g"))
        from triplestore_spark.dsl import resource

        plans["q3_with_subject"] = fmt(g.with_subject("doc:42"))
        plans["q3_with_predicate"] = fmt(g.with_predicate("kg:mentions"))
        plans["q3_with_pred_obj"] = fmt(
            g.with_pred_obj("kg:mentions", resource("kg:ent/spark"))
        )
    finally:
        import shutil

        shutil.rmtree(out_dir, ignore_errors=True)

    plans["q4_graph_melt_dedup"] = fmt(
        tpch_graph_triples(spark, sf_dir).dropDuplicates(["tkey"]).groupBy().count()
    )
    reg = registry()
    plans["q5_entity_degree"] = fmt(reg["kg_entity_degree"][0](spark, sf_dir))
    plans["q6_nt_encode"] = fmt(
        canon.select(nt_encode_expr().alias("value")).agg(
            F.max(F.length("value"))
        )
    )
    lines = canon.select(nt_encode_expr().alias("value"))
    plans["q7_nt_decode"] = fmt(
        decode_lines_df(lines).agg(F.max(F.length("tkey")))
    )

    for name, text in plans.items():
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print(f"wrote {outdir}/{name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
