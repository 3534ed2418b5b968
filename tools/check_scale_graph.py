"""Scale-decade check for the graph analytics over an edge view:
triangle counting (operators/graph_algos.py) and weak components
through the dedup CC (operators/dedup.py connected_components_star).

Protocol (same exact-invariant style as check_scale200x.py for the
dedup family): build a deterministic base graph B (hash-derived
G(n, d) plus a ring so components and triangles both exist), then a
scaled graph = K DISJOINT suffixed copies of B. Disjointness makes
the invariants EXACT, not statistical:

- triangles(K copies)        == K * triangles(B)      (exact integer)
- #components(K copies)      == K * #components(B)    (exact integer)
- CC star rounds at K copies <= log2(n)^2 bound and ~= rounds at B
  (component structure identical per copy)

Wall times at 1x and Kx are reported for the scaling story (local
mode shares one machine, so time ratios are indicative; the EXACT
invariants are the correctness evidence).

Usage: python tools/check_scale_graph.py [--k 10] [--nodes 20000]
       [--deg 10] [--round 6]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def base_edges(spark, n: int, d: int):
    """Deterministic pseudo-random digraph: d hash-derived out-edges
    per node plus a ring edge (one big weak component per copy, plus
    hash triangles). Engine-independent (md5-based, no RNG state)."""
    from pyspark.sql import functions as F

    ids = spark.range(n).select(F.col("id"))
    js = spark.range(d).select(F.col("id").alias("j"))
    rand = ids.crossJoin(js).select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(
            F.lit("v"),
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.col("id"), F.col("j"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % n,
        ).alias("dst"),
    )
    ring = ids.select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(F.lit("v"), (F.col("id") + 1) % n).alias("dst"),
    )
    return (
        rand.unionByName(ring)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def replicate(edges, k: int):
    from pyspark.sql import functions as F

    reps = edges.sparkSession.range(k).select(
        F.col("id").cast("string").alias("rep")
    )
    return edges.crossJoin(F.broadcast(reps)).select(
        F.concat_ws("@", "src", "rep").alias("src"),
        F.concat_ws("@", "dst", "rep").alias("dst"),
    )


def measure(edges):
    from pyspark.sql import functions as F

    from triplestore_spark.operators.dedup import connected_components_star
    from triplestore_spark.operators.graph_algos import triangle_count

    out = {}
    t0 = time.time()
    out["edges"] = edges.count()
    out["build_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    out["triangles"] = triangle_count(edges).first()[0]
    out["triangles_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    stats: dict = {}
    pairs = edges.select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    cc = connected_components_star(pairs, stats=stats)
    out["components"] = cc.select("cluster_id").distinct().count()
    out["cc_rounds"] = stats.get("rounds")
    out["cc_converged"] = stats.get("converged")
    out["cc_sec"] = round(time.time() - t0, 2)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--nodes", type=int, default=20000)
    ap.add_argument("--deg", type=int, default=10)
    ap.add_argument("--round", type=int, default=6)
    args = ap.parse_args()

    from triplestore_spark.session import get_spark

    spark = get_spark("scale-graph", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    import math

    n, d, k = args.nodes, args.deg, args.k
    base = base_edges(spark, n, d).localCheckpoint()
    r1 = measure(base)
    rk = measure(replicate(base, k).localCheckpoint())

    bound = int(math.log2(n * k) ** 2)  # log^2 of total node count
    checks = {
        "triangles_exact": rk["triangles"] == k * r1["triangles"],
        "components_exact": rk["components"] == k * r1["components"],
        "cc_rounds_bounded": (rk["cc_rounds"] or 0) <= bound
        and bool(rk["cc_converged"]),
    }
    ok = all(checks.values())
    out = {
        "k": k,
        "nodes": n,
        "deg": d,
        "base": r1,
        "scaled": rk,
        "cc_rounds_log2sq_bound": bound,
        "checks": checks,
        "pass": bool(ok),
    }
    line = json.dumps(out)
    print(line)
    path = os.path.join(
        REPO, "BENCH", f"SCALE_GRAPH_r{args.round:02d}.txt"
    )
    with open(path, "w") as f:
        f.write(
            "# Graph-analytics scale-decade check "
            "(tools/check_scale_graph.py)\n\n"
            "K disjoint copies of a deterministic base graph; "
            "invariants are EXACT by\nconstruction (see module "
            "docstring): triangles and components scale by\n"
            "exactly K, CC rounds stay in the log^2 bound.\n\n"
        )
        f.write(json.dumps(out, indent=2) + "\n")
    print("wrote", path)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
