"""Layered neighborhood sampling over the KG edge view — the
training-data export a graph-ML pipeline runs to feed GNN training
(GraphSAGE-style: for each seed node, keep at most `fanout[i]`
neighbors per node at layer i, so hub nodes don't explode the
minibatch).

Determinism is the whole design: neighbors are ranked by
md5(src <US> dst <US> layer <US> salt) — a keyed hash both engines
compute identically — so the sample is reproducible run-to-run,
engine-to-engine (the DuckDB twin `sample_neighborhoods_sql` ranks
with the same expression), and INDEPENDENT of partitioning. Changing
`salt` draws a fresh sample; epochs are salts.

Scale shape (the 100 TB story):

- Sampling is per-SOURCE-node, shared across seeds: each layer takes
  the distinct frontier, semi-joins the edge list (narrow key join),
  and keeps the top-fanout neighbors per node with a rank-limited
  window. Spark's WindowGroupLimit pushes the limit into the sort, so
  a hub with 10M neighbors materializes fanout rows per partition
  stream, never its whole adjacency (plan-asserted in tests). The
  alternative — collect_list per node then slice — would OOM on
  exactly the hubs that matter.
- Seeds re-attach by joining the sampled per-node lists back to the
  (seed, frontier-node) pairs, so the expensive ranking work is
  O(distinct frontier nodes), not O(seeds x nodes) — at web scale
  frontiers of different seeds overlap heavily (power-law graphs),
  and sharing the draw is the standard trick.
- Each layer is one semi-join + one rank-limited window + one
  re-attach join; L layers are L such rounds with the frontier
  localCheckpointed, same lineage protocol as the BGP closure walk.

Reference scope note: the reference engine (wallix/triplestore) has
no sampling surface; this operator serves the training-data-pipeline
mandate (minibatch export for graph ML), like dedup/ANN in
operators/dedup.py and operators/similarity.py.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from triplestore_spark.session import local_frame

__all__ = [
    "sample_neighborhoods",
    "sample_neighborhoods_sql",
    "random_walks",
    "random_walks_sql",
    "walks_to_skipgrams",
    "walks_to_skipgrams_sql",
]

# unit separator — cannot appear in node keys (control char)
_US = "\x1f"


def _rank_expr(layer: int, salt: str):
    return F.md5(
        F.concat_ws(
            _US,
            F.col("src"),
            F.col("dst"),
            F.lit(str(layer)),
            F.lit(salt),
        )
    )


def sample_neighborhoods(
    edges: DataFrame,
    seeds: DataFrame | Sequence[str],
    fanouts: Sequence[int],
    *,
    salt: str = "0",
    checkpoint_layers: bool = True,
) -> DataFrame:
    """Sampled L-hop neighborhoods: rows (seed, layer, src, dst).

    Layer i's rows connect each seed's layer-i frontier node `src` to
    at most `fanouts[i]` of its out-neighbors `dst` (deterministic
    md5-ranked choice; dst tie-break). Layer 0's frontier is the seed
    itself; layer i+1's frontier is the distinct dst set sampled at
    layer i. Edges are treated as a simple directed graph (duplicate
    edges don't bias the draw). Seeds may be a DataFrame with a
    `node` column or a plain list of node keys.

    The per-node draw is SHARED across seeds (same node, same layer,
    same salt -> same neighbors): reproducible minibatches, and the
    ranking cost scales with distinct frontier nodes. Use a different
    `salt` per epoch for fresh draws."""
    fanouts = [int(f) for f in fanouts]
    if not fanouts or any(f < 1 for f in fanouts):
        raise ValueError(f"sample_neighborhoods: bad fanouts {fanouts!r}")
    if not isinstance(seeds, DataFrame):
        seeds = local_frame(
            edges.sparkSession, [(s,) for s in seeds], "node string"
        )
    e = edges.select("src", "dst").distinct()
    frontier = seeds.select(
        F.col("node").alias("seed"), F.col("node").alias("src")
    ).distinct()
    layers: list[DataFrame] = []
    for layer, fanout in enumerate(fanouts):
        nodes = frontier.select("src").distinct()
        cand = e.join(nodes, "src", "leftsemi")
        rn = F.row_number().over(
            Window.partitionBy("src").orderBy(
                _rank_expr(layer, salt), F.col("dst")
            )
        )
        sampled = (
            cand.withColumn("_rn", rn)
            .where(F.col("_rn") <= fanout)
            .drop("_rn")
        )
        step = frontier.join(sampled, "src").select(
            "seed", F.lit(layer).alias("layer"), "src", "dst"
        )
        layers.append(step)
        frontier = step.select("seed", F.col("dst").alias("src")).distinct()
        if checkpoint_layers and layer + 1 < len(fanouts):
            frontier = frontier.localCheckpoint(eager=False)
    out = layers[0]
    for df in layers[1:]:
        out = out.unionByName(df)
    return out


def _hash32(col) -> "F.Column":
    """First 32 bits of md5 as a non-negative long — the SAME value
    DuckDB computes with ('0x' || substr(md5(x), 1, 8))::BIGINT, so
    the walk step choice is engine-portable."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def random_walks(
    edges: DataFrame,
    seeds: DataFrame | Sequence[str],
    *,
    walk_length: int,
    walks_per_seed: int = 1,
    salt: str = "0",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Deterministic uniform random walks (DeepWalk-style corpus
    export): rows (walk, seed, step, node), step 0 = the seed.

    At step t a walker picks out-neighbor index
    hash32(node, t, walk, salt) mod out_degree — one equi-join on
    (node, idx) per step against the indexed adjacency, so a walker
    standing on a 10M-neighbor hub costs ONE probe, never an
    adjacency fan-out. Walks stop early at dangling nodes (no
    out-edges), matching the standard truncated-walk semantics.
    Determinism: same inputs + salt -> byte-identical corpus on any
    partitioning, and `random_walks_sql` makes DuckDB draw the SAME
    walks (differential-tested); vary `salt` per epoch."""
    walk_length = int(walk_length)
    if walk_length < 1 or int(walks_per_seed) < 1:
        raise ValueError(
            "random_walks: walk_length and walks_per_seed must be >= 1"
        )
    if not isinstance(seeds, DataFrame):
        seeds = local_frame(
            edges.sparkSession, [(s,) for s in seeds], "node string"
        )
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    adj = e.select(
        "src",
        "dst",
        F.row_number().over(w).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
    ).localCheckpoint(eager=False)
    reps = spark.range(int(walks_per_seed)).select(
        F.col("id").cast("string").alias("rep")
    )
    walkers = (
        seeds.select(F.col("node").alias("seed"))
        .distinct()
        .crossJoin(F.broadcast(reps))
        .select(
            F.concat_ws("#", F.col("seed"), F.col("rep")).alias("walk"),
            "seed",
            F.col("seed").alias("node"),
        )
    )
    steps = [
        walkers.select("walk", "seed", F.lit(0).alias("step"), "node")
    ]
    cur = walkers
    for t in range(1, walk_length + 1):
        pick = _hash32(
            F.concat_ws(
                _US,
                F.col("node"),
                F.lit(str(t)),
                F.col("walk"),
                F.lit(salt),
            )
        )
        nxt = (
            cur.join(adj, cur["node"] == adj["src"])
            .where((pick % F.col("deg")) + 1 == F.col("idx"))
            .select(
                "walk",
                "seed",
                F.lit(t).alias("step"),
                F.col("dst").alias("node"),
            )
        )
        steps.append(nxt)
        cur = nxt
        if t % checkpoint_every == 0 and t < walk_length:
            cur = cur.localCheckpoint(eager=False)
    out = steps[0]
    for df in steps[1:]:
        out = out.unionByName(df)
    return out


def random_walks_sql(
    seeds: Sequence[str],
    *,
    walk_length: int,
    walks_per_seed: int = 1,
    salt: str = "0",
    edges: str = "edges",
) -> str:
    """DuckDB twin of random_walks over an `edges(src, dst)` view —
    identical hash32 step choice, identical walks."""
    from triplestore_spark.operators.bgp import _sql_str

    walk_length = int(walk_length)
    if walk_length < 1 or int(walks_per_seed) < 1:
        raise ValueError(
            "random_walks: walk_length and walks_per_seed must be >= 1"
        )
    seed_rows = ", ".join(f"({_sql_str(s)})" for s in sorted(set(seeds)))
    reps = ", ".join(f"('{i}')" for i in range(int(walks_per_seed)))
    sep = f"chr({ord(_US)})"
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM {edges})",
        "a AS (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src "
        "ORDER BY dst) AS idx, COUNT(*) OVER (PARTITION BY src) AS deg "
        "FROM e)",
        f"w0 AS (SELECT s.seed || '#' || r.rep AS walk, s.seed, "
        f"0 AS step, s.seed AS node FROM (VALUES {seed_rows}) s(seed), "
        f"(VALUES {reps}) r(rep))",
    ]
    for t in range(1, walk_length + 1):
        pick = (
            f"('0x' || substr(md5(w.node || {sep} || "
            f"{_sql_str(str(t))} || {sep} || w.walk || {sep} || "
            f"{_sql_str(salt)}), 1, 8))::BIGINT"
        )
        parts.append(
            f"w{t} AS (SELECT w.walk, w.seed, {t} AS step, "
            f"a.dst AS node FROM w{t - 1} w JOIN a ON a.src = w.node "
            f"AND ({pick}) % a.deg + 1 = a.idx)"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM w{t}" for t in range(walk_length + 1)
    )
    return ", ".join(parts) + " " + union


def walks_to_skipgrams(
    walks: DataFrame, *, window: int = 2, symmetric: bool = True
) -> DataFrame:
    """Skip-gram corpus from a walk table (the actual training input
    DeepWalk/node2vec feeds word2vec): (center, context) pairs for
    positions at distance 1..window within one walk, in bag mode
    (multiplicities ARE the training weights). `symmetric=False`
    keeps only forward pairs (context after center).

    One self-join keyed on the walk id: walks are short (length+1
    rows), so per-key fan-out is <= 2*window per position — the
    shuffle moves the walk table twice, never the graph."""
    window = int(window)
    if window < 1:
        raise ValueError("walks_to_skipgrams: window must be >= 1")
    a = walks.select(
        "walk", F.col("step").alias("s1"), F.col("node").alias("center")
    )
    b = walks.select(
        "walk", F.col("step").alias("s2"), F.col("node").alias("context")
    )
    d = F.col("s2") - F.col("s1")
    cond = (
        (d != 0) & (F.abs(d) <= window)
        if symmetric
        else (d >= 1) & (d <= window)
    )
    return a.join(b, "walk").where(cond).select("center", "context")


def walks_to_skipgrams_sql(
    *, window: int = 2, symmetric: bool = True, walks: str = "walks"
) -> str:
    """DuckDB twin over a `walks(walk, seed, step, node)` view."""
    window = int(window)
    if window < 1:
        raise ValueError("walks_to_skipgrams: window must be >= 1")
    cond = (
        f"a.step <> b.step AND abs(b.step - a.step) <= {window}"
        if symmetric
        else f"b.step - a.step BETWEEN 1 AND {window}"
    )
    return (
        f"SELECT a.node AS center, b.node AS context FROM {walks} a "
        f"JOIN {walks} b ON a.walk = b.walk AND {cond}"
    )


def sample_neighborhoods_sql(
    seeds: Sequence[str],
    fanouts: Sequence[int],
    *,
    salt: str = "0",
    edges: str = "edges",
) -> str:
    """DuckDB twin of sample_neighborhoods over an `edges(src, dst)`
    view — the SAME md5 ranking expression, so both engines draw the
    SAME sample (the differential tests compare exact row sets)."""
    from triplestore_spark.operators.bgp import _sql_str

    fanouts = [int(f) for f in fanouts]
    if not fanouts or any(f < 1 for f in fanouts):
        raise ValueError(f"sample_neighborhoods: bad fanouts {fanouts!r}")
    seed_rows = ", ".join(f"({_sql_str(s)})" for s in sorted(set(seeds)))
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM {edges})",
        f"f0 AS (SELECT seed, seed AS src FROM (VALUES {seed_rows}) "
        "s(seed))",
    ]
    sep = f"chr({ord(_US)})"
    for layer, fanout in enumerate(fanouts):
        rank = (
            f"md5(src || {sep} || dst || {sep} || "
            f"{_sql_str(str(layer))} || {sep} || {_sql_str(salt)})"
        )
        parts.append(
            f"n{layer} AS (SELECT src, dst FROM ("
            f"SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src "
            f"ORDER BY {rank}, dst) AS rn FROM e WHERE src IN "
            f"(SELECT DISTINCT src FROM f{layer})) r WHERE rn <= {fanout})"
        )
        parts.append(
            f"s{layer} AS (SELECT f.seed, {layer} AS layer, n.src, n.dst "
            f"FROM f{layer} f JOIN n{layer} n USING (src))"
        )
        parts.append(
            f"f{layer + 1} AS (SELECT DISTINCT seed, dst AS src "
            f"FROM s{layer})"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(len(fanouts))
    )
    return ", ".join(parts) + " " + union
