"""Deduplication operators for training-data pipelines.

- exact_dedup: md5 hash-groupBy (one shuffle on the 16-byte digest,
  never on the document text)
- ngram_jaccard_pairs: exact n-gram Jaccard via shingle self-join —
  quadratic-safe only because the join is on shingle (candidate pairs
  share at least one shingle); the scale path is minhash_lsh below
- minhash_lsh: MinHash signatures + banded LSH, 100% Catalyst — the
  signature is num_hashes parallel min(xxhash64(shingle, seed))
  aggregations, bands become a single explode + groupBy. No Python in
  the path, fully deterministic (xxhash64 is a fixed function of the
  data), so resume/rerun yield identical buckets.
- simhash: 64-bit sign-sum fingerprint; Hamming-ball candidate pairs
  via 4x16-bit band buckets (any pair within Hamming distance 3 shares
  at least one of 4 bands by pigeonhole).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triplestore_spark.operators.textstats import tokens_col


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(fp, canonical_doc_id, n_dupes): exact-duplicate clusters with
    the smallest doc_id as canonical representative."""
    return (
        docs.select("doc_id", F.md5(F.lower(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep exactly one document (min doc_id) per identical text."""
    groups = exact_dedup_groups(docs).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    return docs.join(groups, on="doc_id", how="left_semi")


def shingles_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct n-gram token shingles. Built with
    a higher-order transform over the token array (no Python)."""
    toks = tokens_col()
    k = F.size(toks) - (n - 1)
    sh = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    return docs.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard over n-gram shingle sets for every pair sharing
    >= 1 shingle. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b."""
    sh = shingles_df(docs, n).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))

    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_for_pairs(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard for an EXPLICIT pair set (doc_a, doc_b).

    Unlike the full shingle self-join in ngram_jaccard_pairs, every
    join here carries a doc id in its key: cand⨝shingles(doc_a)
    fans out by one doc's shingle count, and the probe side is keyed
    by (doc_b, shingle) — a hot shingle shared by millions of docs
    can never become a quadratic join key. This is the verify path
    LSH needs at corpus scale.

    Pairs with an empty shingle intersection are dropped (their
    Jaccard is 0; callers filter on threshold > 0 anyway)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )


def minhash_signatures(
    docs: DataFrame, n: int = 3, num_hashes: int = 32
) -> DataFrame:
    """(doc_id, h0..h{k-1}): MinHash signature as k seeded-xxhash64
    minima — one hash-aggregate pass over the shingle stream."""
    sh = shingles_df(docs, n)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a, doc_b), optionally verified
    with exact Jaccard (the standard shingle->minhash->band->
    bucket-join pipeline). rows/band = num_hashes // bands."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, n, num_hashes)

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    buckets = sig.select(
        "doc_id", F.explode(band_structs).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")

    a = buckets.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = buckets.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    if verify_threshold is None:
        return cand
    # exact Jaccard for the CANDIDATE pairs only — never the full
    # shingle self-join the LSH exists to avoid
    verified = jaccard_for_pairs(cand, shingles_df(docs, n))
    return verified.where(F.col("jaccard") >= verify_threshold)


class ConvergenceError(RuntimeError):
    """Connected components exited at max_iter with the edge set still
    changing — the returned clusters would be WRONG (one component
    could be split into several 'canonical' docs), so downstream
    dedup_keep_list would silently under-dedup."""


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', SoCC'14): every node u connects its
    strictly-larger neighbors to min(N(u) ∪ {u}). Input may be
    DIRECTED and may contain duplicates or self-loops — the
    symmetrize+distinct below is LOAD-BEARING (round 1 receives raw
    directed pairs; later rounds receive small-star output), do not
    'optimize' it away. Output is directed (child, parent)."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    m = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    m = m.select("src", F.least(F.col("src"), F.col("mn")).alias("m"))
    return (
        sym.join(m, on="src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge to its larger endpoint
    u, then connect u and its smaller neighbors to their minimum."""
    o = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    m = o.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = o.join(m, on="src").select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    selfs = m.select(F.col("src"), F.col("m").alias("dst"))
    return (
        nbrs.unionByName(selfs)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    max_iter: int = 20,
    on_nonconverged: str = "raise",
    stats: dict | None = None,
) -> DataFrame:
    """(doc_a, doc_b) undirected duplicate edges -> (doc_id,
    cluster_id) where cluster_id is the minimum doc id reachable — the
    canonical representative of each near-dup cluster.

    Alternating large-star/small-star connected components — the
    O(log^2 n)-round algorithm (public: Kiveris et al., SoCC'14), so
    CHAIN-shaped components (transitive paraphrase chains) cannot blow
    the round count the way min-label propagation's O(diameter) rounds
    would: a 200-node chain converges in ~5 alternating rounds.

    Every operation is an equi-join/groupBy on node ids; rounds are
    materialized with localCheckpoint and convergence is edge-set
    stability of the small-star output (count match + empty
    difference — both sides deduped). Equality with a union-find
    oracle is locked by tests/test_dataops.py on chains, stars, cliques
    and seeded random graphs.

    If the loop exits at max_iter with the edge set still changing,
    the result is NOT a valid clustering; `on_nonconverged` controls
    whether that raises ConvergenceError (default) or warns and
    returns the partial labels ("warn").

    When a dict is passed as `stats`, it is filled with observability
    counters after the run: 'rounds' (alternating large+small star
    rounds executed, including the confirming round if taken),
    'converged' (bool) — the scale artifacts log rounds against the
    O(log^2 n) expectation."""
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged={on_nonconverged!r}")
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # directed input suffices: _large_star symmetrizes (and dedups)
    # its input itself every round — pre-symmetrizing here would just
    # add a redundant shuffle before round 1
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).localCheckpoint()
    prev = None
    prev_count = -1
    converged = False
    rounds = 0
    for _i in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        rounds += 1
        cnt = edges.count()
        if prev is not None and cnt == prev_count:
            if edges.exceptAll(prev).limit(1).count() == 0:
                converged = True
                break
        prev, prev_count = edges, cnt
    if not converged:
        # the loop's LAST round may itself have been the fixed point
        # (stability is only observable one round later) — confirm with
        # one extra alternating round before failing
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        rounds += 1
        if (
            new_edges.count() == prev_count
            and new_edges.exceptAll(edges).limit(1).count() == 0
        ):
            converged = True
        edges = new_edges
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        msg = (
            f"connected_components_star did not converge in {max_iter} "
            "alternating rounds — returned cluster labels are not final"
        )
        if on_nonconverged == "raise":
            raise ConvergenceError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning)
    # at convergence the edge set is a star forest: every non-root
    # points at its component minimum; roots label themselves
    parents = edges.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("parent")
    )
    return nodes.join(parents, on="node", how="left").select(
        F.col("node").alias("doc_id"),
        F.least(
            F.col("node"), F.coalesce(F.col("parent"), F.col("node"))
        ).alias("cluster_id"),
    )


def dedup_keep_list(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The dedup DELIVERABLE: which documents survive. Every doc not
    in any dup cluster survives; within a cluster only the canonical
    (minimum) doc id survives, as labelled by connected_components_star."""
    cc = connected_components_star(pairs)
    drop = cc.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(drop, on="doc_id", how="left_anti")


def simhash_fingerprints(docs: DataFrame, n: int = 1) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash — per-bit sign of the sum of
    +-1 votes from each distinct shingle's xxhash64 bit. Pure Catalyst:
    64 conditional-sum aggregations over the shingle stream."""
    sh = shingles_df(docs, n).withColumn("h", F.xxhash64("shingle"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = sh.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = bit * F.lit(1 << i).cast("long") if i < 63 else F.when(
            F.col("b63") > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate near-dup pairs within a Hamming ball: 4x16-bit band
    buckets guarantee recall for distance <= 3 (pigeonhole); verified
    with an exact popcount on the XOR."""
    fp = simhash_fingerprints(docs).cache()
    bands = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.chunk")

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
