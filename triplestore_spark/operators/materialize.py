"""Materialized graph snapshots: SPO / POS / OSP sorted table layouts.

The reference builds 7 in-memory hash indexes per snapshot
(reference source.go:130-164). At 100 TB the equivalent is one
canonical triple table written in three sort orders, so every point
lookup is a filter on the sort prefix of the best layout:

    WithSubject / WithSubjPred / WithSubjObj / Contains -> SPO
    WithPredicate / WithPredObj                         -> POS
    WithObject                                          -> OSP

Each layout is range-partitioned on its leading key and sorted within
partitions, so Parquet min/max statistics prune both files and row
groups (Iceberg `write.sorted-by` semantics; locally emulated with
repartitionByRange + sortWithinPartitions — no Iceberg jars in this
sandbox, see SURVEY.md §7.4; on a real cluster the writer switches to
`USING iceberg` DDL with the same sort specs).

Snapshot versioning (the reference's dirty-flag memoization,
source.go:87-97): `_manifest.json` carries a content fingerprint
(count + xor of tkey hashes); re-materializing an unchanged source is
a no-op.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.operators.graph import RDFGraph, dedup_triples
from triplestore_spark.storage import read_json, write_json

# Sort/partition keys are the COMPONENT columns, not the derived
# okey/tkey strings: the object components induce an equally valid
# clustering (all rows of one object are contiguous), the range
# shuffle ships ~150 fewer bytes per row, and point lookups push
# component equality down onto parquet min/max stats directly.
_OBJ = ["object_kind", "object_value", "object_type", "object_lang"]
LAYOUTS = {
    "spo": ["subject", "predicate", *_OBJ],
    "pos": ["predicate", *_OBJ, "subject"],
    "osp": [*_OBJ, "subject", "predicate"],
}

MANIFEST = "_manifest.json"


def graph_fingerprint(df: DataFrame) -> dict:
    """Deterministic content fingerprint of a keyed triple set:
    (count, xor/sum of xxhash64(tkey)). Order-insensitive; cheap
    (one partial-agg pass, no sort)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("tkey")), F.lit(0)).alias("hx"),
        F.coalesce(
            F.bit_xor(F.xxhash64("tkey", F.lit(1))), F.lit(0)
        ).alias("hx2"),
        # logical payload size (the tkey is the concatenation of every
        # component, so its length ~= the row's text bytes); rides the
        # same partial-agg pass for free and sizes the layout writes
        F.coalesce(F.sum(F.length("tkey")), F.lit(0)).alias("nbytes"),
    ).collect()[0]
    return {
        "count": row["n"],
        "hx": int(row["hx"]),
        "hx2": int(row["hx2"]),
        "nbytes": int(row["nbytes"]),
    }


def layout_partitions(fp: dict, parallelism: int) -> int:
    """Derive the layout write's partition count from the DATA SIZE,
    not a constant (guide §2/§6: scale-adaptive partitioning, output
    file sizing): one partition per `target` logical bytes of triple
    text (`nbytes` from graph_fingerprint), so a 10x corpus gets 10x
    the files and a tiny corpus is not sprayed across 32 near-empty
    sorted files (measured: 3-layout write of the sf1.0-sim corpus
    3.3 s at the old constant 32 vs 2.6 s size-derived; 2.7 s -> 1.4 s
    at sf0.1 — OPTIMIZATION_r07.md).

    target = nbytes / parallelism, clamped to [8 MiB, 512 MiB]: up to
    8 MiB per core every partition holds 8 MiB; from there to 512 MiB
    per core there is one partition per core; beyond it each holds
    512 MiB (100-200 MB zstd parquet files, guide §6), so 100 TiB is
    204,800 partitions. Shared with tools/plan_capture.py so the
    captured write plans always match the real writer's partitioning."""
    nbytes = int(fp.get("nbytes", 0))
    target = min(max(nbytes // max(1, parallelism), 8 << 20), 512 << 20)
    return max(1, -(-nbytes // target))


def materialize_graph(
    df: DataFrame,
    path: str,
    num_partitions: Optional[int] = None,
    force: bool = False,
) -> dict:
    """Write a deduped canonical triple set in all three layouts.

    Returns the manifest. Skips the write when the fingerprint matches
    the existing manifest (snapshot memoization)."""
    # over an already deduplicated frame (dedup_triples output, as
    # run_pipeline returns) Catalyst drops the repeated aggregate, so
    # the plan keeps one exchange either way
    src = dedup_triples(df)
    # cache the 7 COMPONENT columns only: the derived okey/tkey strings
    # (~150 B/row, about half the row) are recomputed by a codegen
    # concat wherever needed — the fingerprint derives tkey on the fly
    # over the cached components, and the layout writes read exactly
    # the stored columns (r7: smaller cache, same passes)
    canon = src.select(*S.TRIPLE_FIELDS).cache()
    from triplestore_spark.functions.keys import with_keys

    spark = canon.sparkSession
    manifest_path = os.path.join(path, MANIFEST)
    try:
        fp = graph_fingerprint(with_keys(canon))
        old = None if force else read_json(spark, manifest_path)
        # content identity is (count, hx, hx2) — compare exactly those
        # keys so manifests written before the fingerprint grew its
        # `nbytes` sizing field still memoize instead of re-writing an
        # unchanged snapshot
        def _core(d: dict) -> tuple:
            return (d.get("count"), d.get("hx"), d.get("hx2"))

        if old is not None and _core(old.get("fingerprint", {})) == _core(fp):
            return old

        if num_partitions is None:
            num_partitions = layout_partitions(
                fp, spark.sparkContext.defaultParallelism
            )

        def write_layout(layout: str) -> None:
            keys = LAYOUTS[layout]
            (
                # store the 7 component columns ONLY: the derived okey/
                # tkey strings (~150 B/row x 3 layout copies) are pure
                # redundancy — they are derived at scan time by a
                # codegen concat, and every lookup pushes down
                # component equality
                canon.repartitionByRange(
                    num_partitions, *[F.col(k) for k in keys]
                )
                .sortWithinPartitions(*keys)
                .write.mode("overwrite")
                .parquet(os.path.join(path, layout))
            )

        # submit the three layout jobs concurrently: they read the same
        # cached canon, and overlapping their shuffle-read tails and
        # commit phases keeps cores busy (measured 1.7x on the write
        # phase at local[32]; on a cluster concurrent jobs share
        # executors via the scheduler the same way)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(LAYOUTS)) as ex:
            list(ex.map(write_layout, LAYOUTS))
    finally:
        canon.unpersist()

    manifest = {
        "version": 1,
        "fingerprint": fp,
        "layouts": list(LAYOUTS),
        "num_partitions": num_partitions,
        "sort_specs": LAYOUTS,
    }
    write_json(spark, manifest_path, manifest)
    return manifest


class MaterializedGraph(RDFGraph):
    """RDFGraph over materialized layouts. It only says where each
    layout is: RDFGraph routes every lookup to the layout whose sort
    prefix matches the bound positions, so Parquet min/max stats skip
    non-matching files/row-groups."""

    def __init__(self, spark: SparkSession, path: str):
        self._spark = spark
        self._path = path
        manifest_path = os.path.join(path, MANIFEST)
        self.manifest = read_json(spark, manifest_path)
        if self.manifest is None:
            raise FileNotFoundError(f"no snapshot manifest at {manifest_path}")
        self._layout_cache: dict[str, DataFrame] = {}
        base = self.layout("spo")
        super().__init__(base, cache=False)
        self._count = self.manifest["fingerprint"]["count"]

    def layout(self, name: str) -> DataFrame:
        """The keyed frame of one sorted layout ('spo'/'pos'/'osp').
        RDFGraph routes every lookup, BGP pattern and SHACL scan
        through here (operators/graph.route)."""
        if name not in self._layout_cache:
            from triplestore_spark.functions.keys import with_keys

            # okey/tkey are derived at scan time (whole-stage-codegen
            # concat over the stored components)
            self._layout_cache[name] = with_keys(
                self._spark.read.parquet(os.path.join(self._path, name))
            )
        return self._layout_cache[name]
