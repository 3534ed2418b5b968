"""Persisted IVF index: build once, query many.

`ivf_topk` (operators/similarity.py) recomputes centroid assignment on
every call — right for one-shot queries, wrong for the serving shape
at corpus scale. IVFIndex materializes the assignment ONCE as parquet
PARTITIONED BY cluster id, so a query that probes `n_probe` of
`n_clusters` clusters reads exactly that fraction of the corpus: the
cluster IN-list is a partition filter (the same pruning mechanism the
streaming sink uses for its bucketed anti-join), and file listing
never touches unprobed partitions.

Layout on disk:

    <path>/index.json       centroids + params (k x dim doubles — tiny)
    <path>/vectors/         parquet, partitionBy(cluster)

Everything is deterministic (hash-spread seeds + Lloyd refinement,
operators/similarity._ivf_centroids), so rebuilding an index over
unchanged data yields identical clusters — the same rerun-stability
contract as the snapshot layouts (operators/materialize.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from triplestore_spark.operators.similarity import (
    _ivf_centroids,
    nearest_centroid_col,
)
from triplestore_spark.session import local_frame
from triplestore_spark.storage import read_json, write_json

INDEX_FILE = "index.json"
VECTORS_DIR = "vectors"


class IVFIndex:
    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self._spark = spark
        self._path = path
        self.meta = meta

    # -- build / load -------------------------------------------------

    @staticmethod
    def build(
        embeddings: DataFrame,
        path: str,
        n_clusters: int = 16,
        lloyd_iters: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFIndex":
        import numpy as np

        spark = embeddings.sparkSession
        centroids = _ivf_centroids(
            embeddings, n_clusters, lloyd_iters, id_col, vec_col
        )
        vec_d = F.col(vec_col).cast("array<double>")
        assigned = embeddings.select(
            F.col(id_col).alias("vec_id"),
            vec_d.alias("embedding"),
        ).withColumn(
            "cluster", nearest_centroid_col(F.col("embedding"), centroids.tolist())
        )
        (
            assigned.repartition("cluster")
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(path.rstrip("/") + "/" + VECTORS_DIR)
        )
        meta = {
            "version": 1,
            "n_clusters": n_clusters,
            "lloyd_iters": lloyd_iters,
            "dim": int(centroids.shape[1]),
            "centroids": [[float(x) for x in c] for c in centroids],
        }
        # index.json lands on the same store as the vectors
        write_json(spark, path.rstrip("/") + "/" + INDEX_FILE, meta)
        return IVFIndex(spark, path, meta)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFIndex":
        loc = path.rstrip("/") + "/" + INDEX_FILE
        meta = read_json(spark, loc)
        if meta is None:
            raise FileNotFoundError(f"no IVF index at {loc}")
        return IVFIndex(spark, path, meta)

    # -- query --------------------------------------------------------

    def vectors(self, clusters: list[int] | None = None) -> DataFrame:
        """Partition-pruned scan: only the probed cluster partitions
        are listed/read when `clusters` is given."""
        df = self._spark.read.parquet(os.path.join(self._path, VECTORS_DIR))
        if clusters is not None:
            df = df.where(F.col("cluster").isin([int(c) for c in clusters]))
        return df

    def topk(
        self,
        query_vecs: list[tuple[int, list[float]]],
        k: int = 5,
        n_probe: int = 4,
    ) -> DataFrame:
        """(query_id, qvec) pairs -> (query_id, neighbor_id, rank,
        cosine). Probe set is computed driver-side from the stored
        centroids (k x dim — tiny); the corpus scan is pruned to the
        probed partitions; scoring is the same grouped-numpy-matmul
        applyInPandas as ivf_topk."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        centroids = np.array(self.meta["centroids"], dtype="float64")
        probes = []
        for qid, vec in query_vecs:
            q = np.asarray(vec, dtype="float64")
            q = q / np.linalg.norm(q)
            sims = centroids @ q
            for c in np.argsort(-sims)[:n_probe]:
                probes.append((int(qid), [float(x) for x in vec], int(c)))
        probe_df = local_frame(
            self._spark,
            probes,
            "query_id long, qvec array<double>, cluster int",
        )
        touched = sorted({c for _, _, c in probes})

        joined = self.vectors(touched).join(
            F.broadcast(probe_df), on="cluster"
        ).where(F.col("vec_id") != F.col("query_id"))

        out_schema = T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("neighbor_id", T.LongType()),
                T.StructField("cosine", T.DoubleType()),
            ]
        )

        def score_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
            vecs = np.array(pdf["embedding"].tolist(), dtype="float64")
            vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            out = []
            for qid, grp in pdf.groupby("query_id"):
                q = np.asarray(grp["qvec"].iloc[0], dtype="float64")
                q = q / np.linalg.norm(q)
                sims = vecs[pdf.index.get_indexer(grp.index)] @ q
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": grp["vec_id"].to_numpy(),
                            "cosine": np.round(sims, 6),
                        }
                    )
                )
            return pd.concat(out) if out else pd.DataFrame(
                columns=["query_id", "neighbor_id", "cosine"]
            )

        scored = joined.groupBy("cluster").applyInPandas(
            score_cluster, out_schema
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            scored.dropDuplicates(["query_id", "neighbor_id"])
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine")
        )

    def topk_by_ids(
        self, query_ids: list[int], k: int = 5, n_probe: int = 4
    ) -> DataFrame:
        """Convenience: look the query vectors up in the index itself
        (mirrors ivf_topk's id-based interface)."""
        rows = (
            self.vectors()
            .where(F.col("vec_id").isin([int(q) for q in query_ids]))
            .collect()
        )
        return self.topk(
            [(r["vec_id"], list(r["embedding"])) for r in rows],
            k=k,
            n_probe=n_probe,
        )
