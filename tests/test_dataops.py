"""Training-data ops: dedup family, similarity search, text stats,
multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from oracles import union_find_components


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).cache()


# ---- dedup ----


@pytest.fixture(scope="module")
def docs_with_dupes(spark, docs):
    """Plant exact + near duplicates with known ids."""
    base = docs.limit(20)
    exact = base.where(F.col("doc_id") == 0).withColumn(
        "doc_id", F.lit(100000)
    )
    near = (
        base.where(F.col("doc_id") == 1)
        .withColumn("doc_id", F.lit(100001))
        .withColumn("text", F.concat(F.col("text"), F.lit(" tailword")))
    )
    return base.unionByName(exact).unionByName(near).cache()


def test_exact_dedup(docs_with_dupes):
    from triplestore_spark.operators.dedup import exact_dedup, exact_dedup_groups

    groups = exact_dedup_groups(docs_with_dupes)
    dupe_group = groups.where(F.col("n_dupes") > 1).collect()
    assert len(dupe_group) == 1
    assert dupe_group[0]["canonical_doc_id"] == 0

    kept = exact_dedup(docs_with_dupes)
    assert kept.count() == 21  # 22 rows - 1 exact dupe
    assert kept.where(F.col("doc_id") == 100000).count() == 0


def test_ngram_jaccard_finds_near_dup(docs_with_dupes):
    from triplestore_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_with_dupes, n=3, threshold=0.5).collect()
    }
    assert (0, 100000) in pairs and pairs[(0, 100000)] == 1.0
    assert (1, 100001) in pairs and pairs[(1, 100001)] > 0.8


def test_minhash_lsh_finds_planted_pairs(docs_with_dupes):
    from triplestore_spark.operators.dedup import minhash_lsh_pairs

    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs_with_dupes, n=3, num_hashes=32, bands=8
        ).collect()
    }
    assert (0, 100000) in got
    assert (1, 100001) in got


def test_jaccard_for_pairs_matches_self_join(docs_with_dupes):
    """The candidate-restricted verify path must agree exactly with
    the full shingle self-join on the pairs it is given (it replaces
    the self-join inside minhash_lsh_pairs — the self-join was the
    scale-killer: a hot shingle makes it quadratic on one key)."""
    from triplestore_spark.operators.dedup import (
        jaccard_for_pairs,
        ngram_jaccard_pairs,
        shingles_df,
    )

    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_with_dupes, n=3, threshold=0.0).collect()
    }
    cand = docs_with_dupes.sparkSession.createDataFrame(
        [(a, b) for a, b in full], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_for_pairs(cand, shingles_df(docs_with_dupes, 3)).collect()
    }
    assert got == full


def test_minhash_verify_equals_exact_on_candidates(docs_with_dupes):
    """minhash_lsh_pairs(verify) == LSH candidates ∩ exact Jaccard
    pairs — the verify-path rewrite must not change results."""
    from triplestore_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    cand = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            docs_with_dupes, n=3, num_hashes=32, bands=8, verify_threshold=None
        ).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_with_dupes, n=3, threshold=0.5).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            docs_with_dupes, n=3, num_hashes=32, bands=8, verify_threshold=0.5
        ).collect()
    }
    assert got == {p: j for p, j in exact.items() if p in cand}


def test_connected_components_chain_and_singletons(spark):
    """A 4-node chain (transitive dups) collapses to one cluster with
    the min id as canonical; disjoint pairs stay separate clusters."""
    from triplestore_spark.operators.dedup import (
        connected_components_star,
        dedup_keep_list,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "doc_a long, doc_b long",
    )
    cc = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_star(pairs).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id long"
    )
    kept = sorted(r["doc_id"] for r in dedup_keep_list(docs, pairs).collect())
    assert kept == [1, 10, 20, 99]  # canonical per cluster + untouched doc


def test_connected_components_long_path_converges(spark):
    """A 12-node path exercises multi-round alternation + the
    localCheckpoint lineage truncation (real dup clusters are dense
    and converge in a couple of rounds; a path is the worst case)."""
    from triplestore_spark.operators.dedup import connected_components_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    cc = connected_components_star(pairs, max_iter=20)
    assert {r["cluster_id"] for r in cc.collect()} == {0}


def test_minhash_deterministic(docs_with_dupes):
    from triplestore_spark.operators.dedup import minhash_signatures

    a = minhash_signatures(docs_with_dupes.limit(5)).collect()
    b = minhash_signatures(docs_with_dupes.limit(5)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_simhash_near_pairs(docs_with_dupes):
    from triplestore_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_pairs,
    )

    fps = {r["doc_id"]: r["simhash"] for r in
           simhash_fingerprints(docs_with_dupes).collect()}
    assert fps[0] == fps[100000]  # identical text -> identical simhash
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(docs_with_dupes, max_hamming=3).collect()
    }
    assert got.get((0, 100000)) == 0


# ---- similarity ----


def test_brute_force_topk(emb):
    from triplestore_spark.operators.similarity import brute_force_topk

    out = brute_force_topk(emb, query_ids=[0, 1], k=5)
    rows = out.collect()
    assert len(rows) == 10
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == [1, 2, 3, 4, 5]
        cosines = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_lsh_topk_scores_match_exact(emb):
    """Every LSH-returned (query, neighbor) must carry the exact
    brute-force cosine (LSH prunes candidates, never distorts scores),
    and near-identical vectors must always be retrieved at rank 1
    (the case LSH exists for — random embeddings are near-orthogonal,
    so top-k recall on them tracks the candidate fraction)."""
    from triplestore_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    dup = emb.where(F.col("vec_id") == 0).withColumn("vec_id", F.lit(777777))
    corpus = emb.unionByName(dup)
    dim = len(emb.select("embedding").first()[0])
    qids = [0, 1, 2]

    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(corpus, qids, k=1000000).collect()
    }
    approx = lsh_topk(corpus, qids, k=5, dim=dim)
    rows = approx.collect()
    assert rows, "LSH returned nothing"
    for r in rows:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]
    # the planted duplicate of query 0 must be its rank-1 hit
    rank1 = {r["query_id"]: r for r in rows if r["rank"] == 1}
    assert rank1[0]["neighbor_id"] == 777777
    assert rank1[0]["cosine"] == 1.0


def test_ivf_topk(spark, emb):
    """IVF scores must equal brute force for returned pairs, and the
    planted duplicate of the query must be its rank-1 hit (it shares
    the query's cluster by construction)."""
    from triplestore_spark.operators.similarity import brute_force_topk, ivf_topk

    dup = emb.where(F.col("vec_id") == 2).withColumn("vec_id", F.lit(888888))
    corpus = emb.unionByName(dup)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(corpus, [2], k=1000000).collect()
    }
    rows = ivf_topk(corpus, [2], k=5, n_clusters=8, n_probe=3).collect()
    assert rows
    for r in rows:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]
    rank1 = [r for r in rows if r["rank"] == 1][0]
    assert rank1["neighbor_id"] == 888888 and rank1["cosine"] == 1.0


def test_ivf_recall_floor(emb):
    """Hash-spread seeds + Lloyd refinement: recall@5 vs brute force
    must clear a floor on the random corpus (measured 0.67 at
    n_probe=3/8 clusters; floor set with margin — random embeddings
    bound recall by the probed fraction, this guards regressions in
    the centroid quality, e.g. reverting to id-prefix seeds)."""
    from triplestore_spark.operators.similarity import brute_force_topk, ivf_topk

    qids = [0, 1, 2, 10, 20, 30]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qids, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            emb, qids, k=5, n_clusters=8, n_probe=3, lloyd_iters=2
        ).collect()
    }
    assert len(got & exact) / len(exact) >= 0.5


def test_embedding_near_dup_pairs(spark, emb):
    from triplestore_spark.operators.similarity import embedding_near_dup_pairs

    # plant an exact duplicate vector
    dup = emb.where(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999999))
    both = emb.unionByName(dup)
    dim = len(emb.select("embedding").first()[0])
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(both, threshold=0.99, dim=dim).collect()
    }
    assert pairs.get((0, 999999)) == 1.0


def test_embedding_near_dup_recall_at_090(spark, emb):
    """Recall >= 0.9 on pairs planted in the 0.90-0.95 cosine window
    (round 1's single 8-plane bucket missed ~70% of these; the banded
    OR-construction is the fix). Exact truth computed driver-side."""
    import numpy as np

    from triplestore_spark.operators.similarity import (
        embedding_near_dup_pairs,
        with_planted_near_dups,
    )

    dim = len(emb.select("embedding").first()[0])
    aug = with_planted_near_dups(emb, dim=dim, every=10)

    rows = aug.collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype="float64")
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = V @ V.T
    iu = np.triu_indices(len(ids), k=1)

    def pairs_at(thr):
        mask = sims[iu] >= thr
        return {
            (int(min(a, b)), int(max(a, b)))
            for a, b in zip(ids[iu[0]][mask], ids[iu[1]][mask])
        }

    # margins absorb numpy-vs-Catalyst rounding at the exact boundary
    truth_tight = pairs_at(0.905)
    truth_loose = pairs_at(0.895)
    assert truth_tight, "no planted pairs landed >= 0.905 — fixture drifted"
    in_window = pairs_at(0.905) - pairs_at(0.96)
    assert in_window, "planted pairs all above 0.96 — window not exercised"

    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(aug, threshold=0.9, dim=dim).collect()
    }
    # every returned pair must be a true pair (exact cosine verify)
    assert got <= truth_loose
    recall = len(got & truth_tight) / len(truth_tight)
    assert recall >= 0.9, f"recall {recall:.2f} < 0.9"


# ---- text stats ----


def test_textstats_shapes(docs):
    from triplestore_spark.operators.textstats import (
        fingerprint,
        lang_id,
        quality_score,
        token_count,
    )

    n = docs.count()
    assert token_count(docs).count() == n
    q = quality_score(docs)
    assert q.where((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0
    li = lang_id(docs)
    assert set(r["pred_lang"] for r in li.collect()) <= {"en", "unk"}
    assert fingerprint(docs).select("fp").distinct().count() <= n


def test_doc_stats_matches_components(docs):
    """The folded seven-column gate equals its three component ops
    column-for-column (the fold freed driver slots, not coverage)."""
    from triplestore_spark.operators.textstats import (
        doc_stats,
        fingerprint,
        lang_id,
        quality_score,
        token_count,
    )

    ds = {r["doc_id"]: r.asDict() for r in doc_stats(docs).collect()}
    for r in fingerprint(docs).collect():
        assert ds[r["doc_id"]]["fp"] == r["fp"]
    for r in token_count(docs).collect():
        for c in ("n_tokens", "n_distinct_tokens", "n_subwords_est"):
            assert ds[r["doc_id"]][c] == r[c]
    for r in lang_id(docs).collect():
        assert ds[r["doc_id"]]["stopword_ratio"] == r["stopword_ratio"]
        assert ds[r["doc_id"]]["pred_lang"] == r["pred_lang"]
    for r in quality_score(docs).collect():
        assert ds[r["doc_id"]]["quality"] == r["quality"]


def _py_dup_ratio(items):
    return round(1 - len(set(items)) / len(items), 6) if items else 0.0


def test_repetition_signals_exact(spark):
    """Hand-computed duplicate token/2-gram/3-gram fractions, including
    the short-doc guards (1- and 2-token docs must score 0.0 for the
    gram sizes they cannot form — Spark's sequence() DESCENDS for
    negative spans, so the guard is load-bearing)."""
    from triplestore_spark.operators.textstats import repetition_signals

    texts = {
        1: "x x x x",
        2: "a b a b a",
        3: "one",
        4: "two two",
        5: "a b c d e f",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_signals(df).collect()}
    for i, t in texts.items():
        toks = t.split(" ")
        g2 = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        g3 = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        assert got[i]["dup_token_ratio"] == _py_dup_ratio(toks), i
        assert got[i]["dup_2gram_ratio"] == _py_dup_ratio(g2), i
        assert got[i]["dup_3gram_ratio"] == _py_dup_ratio(g3), i


def test_stratified_sample_deterministic_and_rates(docs):
    """The hash-draw sample must be exactly reproducible (same ids on
    re-evaluation AND under a different partitioning — the property
    df.sample lacks), honor fraction 0 (absent sources dropped), and
    land near the requested rate per source."""
    from triplestore_spark.operators.textstats import stratified_sample

    fr = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    ids1 = {r["doc_id"] for r in stratified_sample(docs, fr).collect()}
    ids2 = {
        r["doc_id"]
        for r in stratified_sample(docs.repartition(7), fr).collect()
    }
    assert ids1 == ids2 and ids1

    by_src = {
        r["source"]: r["n"]
        for r in stratified_sample(docs, fr)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    totals = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src.get("src0", 0) == totals["src0"]  # fraction 1.0 == all
    assert "src2" not in by_src  # fraction 0.0 == none
    assert set(by_src) <= {"src0", "src1"}  # unlisted sources dropped
    # binomial tolerance at n=25..250 per source: just sanity-band 0.5
    rate = by_src.get("src1", 0) / totals["src1"]
    assert 0.2 <= rate <= 0.8, rate

    # a different seed draws a different cut (not a degenerate hash)
    ids3 = {
        r["doc_id"] for r in stratified_sample(docs, fr, seed=7).collect()
    }
    assert ids3 != ids1


def test_stratified_sample_epochs_oracle(docs):
    """Upsampling: exact (doc_id, epoch) multiset against a pure-Python
    md5 oracle; frac <= 1 subset identical to stratified_sample with
    epoch == 0; repartition-invariant."""
    import hashlib

    from triplestore_spark.operators.textstats import (
        stratified_sample,
        stratified_sample_epochs,
    )

    fr = {"src0": 2.3, "src1": 0.5, "src2": 1.0}
    seed = 42

    def py_draw(doc_id):
        h = hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()
        return int(h[:8], 16) / float(1 << 32)

    src_of = {
        r["doc_id"]: r["source"]
        for r in docs.select("doc_id", "source").collect()
    }
    expected = set()
    for did, src in src_of.items():
        frac = fr.get(src, 0.0)
        n = int(frac) + (1 if py_draw(did) < frac - int(frac) else 0)
        for e in range(n):
            expected.add((did, e))

    got = {
        (r["doc_id"], r["epoch"])
        for r in stratified_sample_epochs(docs, fr, seed=seed)
        .select("doc_id", "epoch")
        .collect()
    }
    assert got == expected and got
    # some src0 doc really was upsampled to 3 copies (frac 2.3)
    assert any(e == 2 for _, e in got)

    # repartition-invariant
    got2 = {
        (r["doc_id"], r["epoch"])
        for r in stratified_sample_epochs(docs.repartition(7), fr, seed=seed)
        .select("doc_id", "epoch")
        .collect()
    }
    assert got2 == got

    # frac <= 1 restriction: identical row set to stratified_sample,
    # every epoch 0
    fr_dn = {"src1": 0.5, "src2": 1.0}
    ep = stratified_sample_epochs(docs, fr_dn, seed=seed).collect()
    assert all(r["epoch"] == 0 for r in ep)
    assert {r["doc_id"] for r in ep} == {
        r["doc_id"] for r in stratified_sample(docs, fr_dn, seed=seed).collect()
    }


def test_cap_per_group_oracle(docs):
    """Per-source cap: exact survivor set against the pure-Python md5
    oracle, repartition-invariant, under-cap groups untouched."""
    import hashlib

    from triplestore_spark.operators.textstats import cap_per_group

    def draw(did):
        h = hashlib.md5(f"{did}:42".encode()).hexdigest()
        return int(h[:8], 16) / float(1 << 32)

    by_src: dict = {}
    for r in docs.select("doc_id", "source").collect():
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    cap = 7
    expected = set()
    for src, ids in by_src.items():
        for did in sorted(ids, key=lambda d: (draw(d), d))[:cap]:
            expected.add(did)

    got = {r["doc_id"] for r in cap_per_group(docs, cap).collect()}
    assert got == expected
    got2 = {
        r["doc_id"] for r in cap_per_group(docs.repartition(9), cap).collect()
    }
    assert got2 == got
    # groups at/below the cap keep everything
    small = {s for s, ids in by_src.items() if len(ids) <= cap}
    for s in small:
        assert set(by_src[s]) <= got
    # a big cap is the identity
    assert cap_per_group(docs, 10**6).count() == docs.count()


def test_shuffle_deterministic_order(docs):
    """Global order is reproducible across partitionings, changes with
    the seed, and matches the pure-Python md5 sort."""
    import hashlib

    from triplestore_spark.operators.textstats import shuffle_deterministic

    order1 = [
        r["doc_id"]
        for r in shuffle_deterministic(docs, seed=42).select("doc_id").collect()
    ]
    order2 = [
        r["doc_id"]
        for r in shuffle_deterministic(docs.repartition(11), seed=42)
        .select("doc_id")
        .collect()
    ]
    assert order1 == order2 and len(order1) == docs.count()

    def key(did):
        h = hashlib.md5(f"{did}:42".encode()).hexdigest()
        return (int(h[:8], 16) / float(1 << 32), did)

    assert order1 == sorted(order1, key=key)

    order3 = [
        r["doc_id"]
        for r in shuffle_deterministic(docs, seed=7).select("doc_id").collect()
    ]
    assert order3 != order1 and sorted(order3) == sorted(order1)


def test_plan_mixture_fractions(spark):
    """Token-budget -> keep-fraction planning: big sources downweight
    toward the cap, small ones keep everything, absent-from-dict
    sources drop; composes with stratified_sample."""
    from triplestore_spark.operators.textstats import (
        plan_mixture,
        stratified_sample,
    )

    rows = []
    for i in range(40):
        rows.append((i, "w " * 99 + "w", "en", "big", 200))      # 100 toks
    for i in range(40, 44):
        rows.append((i, "w w w w w", "en", "small", 9))          # 5 toks
    for i in range(44, 48):
        rows.append((i, "w w w", "en", "other", 5))              # 3 toks
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    fr = plan_mixture(docs, 1000)  # uniform cap: big has 4000 toks
    assert fr["big"] == 0.25 and fr["small"] == 1.0 and fr["other"] == 1.0

    fr2 = plan_mixture(docs, {"big": 400, "small": 10})
    assert fr2 == {"big": 0.1, "small": 0.5}  # 'other' dropped

    sampled = stratified_sample(docs, fr2)
    srcs = {r["source"] for r in sampled.collect()}
    assert "other" not in srcs


def test_dedup_lines_corpus(spark):
    """Corpus-level line dedup: planted boilerplate lines verified
    against a pure-Python oracle AND Spark==DuckDB engine agreement
    (keep='first', keep='none', min_line_chars guard) on planted docs
    unioned with the real sf0.001 corpus."""
    import duckdb
    import pandas as pd

    from triplestore_spark.operators.textstats import (
        dedup_lines_corpus,
        dedup_lines_corpus_sql,
    )

    BOILER = "ACCEPT ALL COOKIES TO CONTINUE"
    planted = [
        (90001, f"{BOILER}\nunique alpha line\n--\n\nbody one", "en", "srcp", 40),
        (90002, f"unique beta line\n{BOILER}\n--\nbody two", "en", "srcp", 38),
        (90003, f"shared tail line\nbody three\n{BOILER}", "en", "srcp", 36),
        (90004, "shared tail line\nbody four\n\n--", "en", "srcp", 30),
        (90005, "all unique here\nnothing repeats", "en", "srcp", 31),
        (90006, BOILER, "en", "srcp", 30),  # whole doc is boilerplate
    ]
    path = "/root/testdata/sf0.001/documents.parquet"
    base = spark.read.parquet(path)
    df = base.unionByName(spark.createDataFrame(planted, base.schema))

    # pure-Python oracle over the full unioned corpus, keep='first'
    rows = [(r["doc_id"], r["text"]) for r in df.collect()]
    seen: dict[str, tuple] = {}
    for did, text in sorted(rows):
        for pos, line in enumerate(text.split("\n")):
            if line and (did, pos) < seen.get(line, (float("inf"), 0)):
                seen[line] = (did, pos)
    from collections import Counter

    counts = Counter(
        line for _, text in rows for line in text.split("\n") if line
    )
    expected = {}
    for did, text in rows:
        kept, dropped = [], 0
        for pos, line in enumerate(text.split("\n")):
            if line and counts[line] >= 2 and seen[line] != (did, pos):
                dropped += 1
            else:
                kept.append(line)
        expected[did] = ("\n".join(kept), dropped)

    got = {
        r["doc_id"]: (r["text"], r["n_lines_dropped"])
        for r in dedup_lines_corpus(df).collect()
    }
    assert got == expected
    # the planted boilerplate survived exactly once, in doc 90001
    assert BOILER in got[90001][0]
    assert all(
        BOILER not in got[d][0] for d in (90002, 90003, 90006)
    )
    assert got[90006] == ("", 1)  # all-dropped doc -> empty text
    # short "--" lines are protected by min_line_chars=3
    g3 = {
        r["doc_id"]: r["text"]
        for r in dedup_lines_corpus(df, min_line_chars=3).collect()
    }
    assert "--" in g3[90001] and "--" in g3[90002] and "--" in g3[90004]

    # engine agreement vs DuckDB for both keep modes + the guard
    con = duckdb.connect()
    pdf = pd.DataFrame(
        planted, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    con.register("planted", pdf)
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{path}') UNION ALL FROM planted"
    )
    for kw in (
        {"keep": "first"},
        {"keep": "none"},
        {"keep": "first", "min_line_chars": 3},
    ):
        a = sorted(
            (r["doc_id"], r["text"], r["n_lines_dropped"])
            for r in dedup_lines_corpus(df, **kw).collect()
        )
        b = sorted(
            tuple(r)
            for r in con.execute(
                "SELECT doc_id, text, n_lines_dropped FROM ("
                + dedup_lines_corpus_sql(**kw)
                + ")"
            ).fetchall()
        )
        assert a == b, kw


def test_redact_pii_planted(spark):
    """Exact expected redactions: email, IPv4, phone-shaped run, and
    a clean row; n_redacted counts the placeholders inserted."""
    from triplestore_spark.operators.textstats import redact_pii

    rows = [
        (1, "contact bob@example.com or 192.168.0.1 now", "en", "src0", 42),
        (2, "call +1 (555) 123-4567 today", "en", "src0", 28),
        (3, "clean text with no identifiers at all", "en", "src1", 37),
        (4, "two mails a@b.co c@d.org and ip 10.0.0.255", "en", "src1", 42),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["doc_id"]: (r["text"], r["n_redacted"])
           for r in redact_pii(df).collect()}
    assert got[1] == ("contact <EMAIL> or <IP> now", 2)
    assert got[2] == ("call <PHONE> today", 1)
    assert got[3] == ("clean text with no identifiers at all", 0)
    assert got[4] == ("two mails <EMAIL> <EMAIL> and ip <IP>", 3)


def test_redact_pii_engine_agreement(spark):
    """Spark (java.util.regex) and DuckDB (RE2) must agree exactly on
    the dialect-neutral PII patterns — planted PII rows plus the real
    sf0.001 corpus."""
    import duckdb

    from triplestore_spark.operators.textstats import (
        redact_pii,
        redact_pii_sql,
    )

    path = "/root/testdata/sf0.001/documents.parquet"
    planted = [
        (90001, "mail x.y+z@sub.example.org mid-line", "en", "srcp", 35),
        (90002, "ips 8.8.8.8 and 255.255.255.255, tel 555-123-9876", "en", "srcp", 49),
        (90003, "no-pii control row", "en", "srcp", 18),
    ]
    base = spark.read.parquet(path)
    df = base.unionByName(
        spark.createDataFrame(planted, base.schema)
    )
    a = sorted(
        (r["doc_id"], r["text"], r["n_redacted"])
        for r in redact_pii(df).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{path}') "
        f"UNION ALL FROM (VALUES "
        + ", ".join(
            f"({i}, '{t}', '{lang}', '{src}', {nc})"
            for i, t, lang, src, nc in planted
        )
        + ") v(doc_id, text, lang, source, n_chars)"
    )
    b = sorted(
        tuple(r)
        for r in con.execute(
            "SELECT doc_id, text, n_redacted FROM ("
            + redact_pii_sql()
            + ")"
        ).fetchall()
    )
    assert a == b


def test_decontaminate_planted(spark):
    """A doc sharing an 8-gram with the eval set is dropped with the
    hit counted; shorter-than-n and non-overlapping docs stay."""
    from triplestore_spark.operators.textstats import decontaminate

    gram = "the quick brown fox jumps over the lazy"
    docs = spark.createDataFrame(
        [
            (1, f"intro words then {gram} dog outro"),
            (2, "completely unrelated text that shares nothing at all with it"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, f"eval question: {gram} dog. answer: yes")],
        "doc_id long, text string",
    )
    clean, contaminated = decontaminate(docs, eval_docs, n=8)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]
    hits = {r["doc_id"]: r["n_hits"] for r in contaminated.collect()}
    assert set(hits) == {1} and hits[1] >= 1


def test_boilerplate_ngrams_planted(spark):
    """Planted shared 3-gram across docs 1/2; doc 3 all-unique; doc 4
    too short for any gram (no row, as in the oracle's UNNEST)."""
    from triplestore_spark.operators.textstats import boilerplate_ngrams

    df = spark.createDataFrame(
        [
            (1, "p q r s t"),        # grams: pqr qrs rst
            (2, "z p q r y"),        # grams: zpq pqr qry -> shares pqr
            (3, "m n o"),            # gram: mno (unique)
            (4, "a b"),              # no 3-gram
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in boilerplate_ngrams(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_grams"] == 3 and got[1]["n_flagged"] == 1
    assert got[2]["n_grams"] == 3 and got[2]["n_flagged"] == 1
    assert got[3]["n_grams"] == 1 and got[3]["n_flagged"] == 0
    assert got[1]["flagged_ratio"] == round(1 / 3, 6)
    assert got[3]["flagged_ratio"] == 0.0


def test_filter_documents_gates(docs):
    from triplestore_spark.operators.textstats import (
        filter_documents,
        lang_id,
        quality_score,
        token_count,
    )

    kept = filter_documents(docs, min_quality=0.5, langs=("en",), min_tokens=5)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 < len(kept_ids) < docs.count()

    # every kept doc individually passes all three gates
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    lang = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    nt = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    for d in kept_ids:
        assert q[d] >= 0.5 and lang[d] == "en" and nt[d] >= 5
    # and every excluded doc fails at least one
    for d in set(q) - kept_ids:
        assert q[d] < 0.5 or lang[d] != "en" or nt[d] < 5


# ---- multimodal ----


def test_multimodal_decode_plumbing(spark, sf_dir):
    from triplestore_spark.operators.multimodal import (
        decode_image_features,
        synth_media_df,
    )
    from triplestore_spark.pipeline.corpus import build_corpus, read_documents

    corpus = build_corpus(read_documents(spark, sf_dir))
    media = synth_media_df(corpus)
    n_media = media.count()
    assert n_media > 0

    feats = decode_image_features(media, n_features=8)
    rows = feats.collect()
    assert len(rows) == n_media
    for r in rows[:5]:
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert len(r["features"]) == 8

    # determinism: same payload -> same features
    again = {r["media_ref"]: r["features"] for r in feats.collect()}
    first = {r["media_ref"]: r["features"] for r in rows}
    assert again == first


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    _pil_available(),
    reason="Pillow IS installed here - the real-decode path activates "
    "instead of raising (covered by test_multimodal_real_decode_with_pil)",
)
def test_multimodal_real_decode_names_missing_dependency(spark, sf_dir):
    """Without Pillow the real path must fail loudly, naming the
    missing dependency (INTEGRATION.md env gate)."""
    from triplestore_spark.operators.multimodal import (
        decode_image_features,
        synth_media_df,
    )
    from triplestore_spark.pipeline.corpus import build_corpus, read_documents

    corpus = build_corpus(read_documents(spark, sf_dir))
    media = synth_media_df(corpus).limit(1)
    with pytest.raises(Exception) as exc:
        decode_image_features(media, fake=False).collect()
    msg = str(exc.value)
    assert "NotImplementedError" in msg or "Pillow" in msg


@pytest.mark.skipif(
    not _pil_available(),
    reason="requires Pillow (pip install pillow) - real image decode "
    "is env-gated, see INTEGRATION.md",
)
def test_multimodal_real_decode_with_pil(spark):
    """With Pillow installed, fake=False decodes real image bytes:
    dims come from the image, features from its 4x4 thumbnail."""
    import io

    from PIL import Image

    from triplestore_spark.operators.multimodal import decode_image_features

    buf = io.BytesIO()
    Image.new("RGB", (120, 80), (200, 10, 10)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [("media://t/0", "image", bytearray(buf.getvalue()), "image/png")],
        "media_ref string, kind string, payload binary, mime string",
    )
    row = decode_image_features(media, fake=False).collect()[0]
    assert (row["width"], row["height"]) == (120, 80)
    assert len(row["features"]) == 8 and row["n_bytes"] == len(buf.getvalue())


def test_real_decode_body_with_stub_pil(monkeypatch):
    """VERDICT r4 #4: the Pillow decode BODY (corrupt-blob->null-row
    quarantine, 4x4 thumbnail feature scaling, feature cycling) gets
    direct in-sandbox coverage by injecting a stub PIL module —
    _real_decode_fn imports `from PIL import Image` lazily, so a
    sys.modules stub exercises the exact code the env-gated test runs
    where Pillow exists. No Spark needed: this is the per-blob inner
    function the mapInPandas batches call."""
    import sys
    import types

    class _StubImg:
        def __init__(self, raw: bytes):
            self.size = (120, 80)
            self._raw = raw

        def convert(self, mode):
            assert mode == "L"
            return self

        def resize(self, wh):
            assert wh == (4, 4)
            return self

        def getdata(self):
            # 16 deterministic "pixels" derived from the payload
            return [(self._raw[i % len(self._raw)]) for i in range(16)]

    stub_image = types.SimpleNamespace()

    def _open(bio):
        raw = bio.read()
        if raw.startswith(b"CORRUPT"):
            raise OSError("cannot identify image file")  # PIL's failure
        return _StubImg(raw)

    stub_image.open = _open
    stub_pil = types.ModuleType("PIL")
    stub_pil.Image = stub_image
    monkeypatch.setitem(sys.modules, "PIL", stub_pil)
    monkeypatch.setitem(
        sys.modules, "PIL.Image", stub_image
    )  # `from PIL import Image` resolves via either

    from triplestore_spark.operators.multimodal import _real_decode_fn

    decode = _real_decode_fn(n_features=11)

    # happy path: dims from the image, features cycled 16 -> 11
    w, h, feats = decode(b"\x00\x80\xff\x40")
    assert (w, h) == (120, 80)
    assert len(feats) == 11
    px = _StubImg(b"\x00\x80\xff\x40").getdata()
    expected = [(p - 128) / 128.0 for p in px]
    assert feats == expected[:11]
    assert all(-1.0 <= f < 1.0 for f in feats)

    # cycling: n_features LONGER than the 16 thumbnail pixels wraps
    w2, h2, feats2 = _real_decode_fn(n_features=20)(b"\x01\x02")
    assert len(feats2) == 20
    assert feats2[16:20] == feats2[0:4]

    # quarantine: a corrupt blob yields null dims/features, no raise
    assert decode(b"CORRUPT-not-an-image") == (None, None, None)


def test_nearest_centroid_expr_udf_parity(spark, emb):
    """Large-k assignment (VERDICT r2 #3): the Arrow-matmul assigner
    must agree with the Catalyst literal expression on real vectors
    (same argmax-of-cosine, first-max tie-break)."""
    from triplestore_spark.operators.similarity import (
        _ivf_centroids,
        _nearest_centroid_expr,
        _nearest_centroid_udf,
    )

    cents = _ivf_centroids(emb, 8, 1, "vec_id", "embedding").tolist()
    vec = F.col("embedding").cast("array<double>")
    both = emb.select(
        "vec_id",
        _nearest_centroid_expr(vec, cents).alias("a"),
        _nearest_centroid_udf(cents)(vec).alias("b"),
    )
    mismatched = both.where(F.col("a") != F.col("b")).count()
    assert mismatched == 0


def test_nearest_centroid_zero_vector_parity(spark):
    """ADVICE r3: a zero-norm embedding must assign to cluster 0 (all
    scores clamp to 0.0, first-max wins) on BOTH paths — the Catalyst
    expression used to emit null (divide-by-zero) while the Arrow path
    returned 0, so crossing CENTROID_EXPR_MAX_TERMS changed output."""
    from triplestore_spark.operators.similarity import (
        _nearest_centroid_expr,
        _nearest_centroid_udf,
    )

    cents = [[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]]
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [2.0, 1.0]), (2, [0.0, 3.0])],
        "vec_id int, embedding array<double>",
    )
    vec = F.col("embedding").cast("array<double>")
    rows = {
        r["vec_id"]: (r["a"], r["b"])
        for r in df.select(
            "vec_id",
            _nearest_centroid_expr(vec, cents).alias("a"),
            _nearest_centroid_udf(cents)(vec).alias("b"),
        ).collect()
    }
    assert rows[0] == (0, 0)  # zero vector: not null, first centroid
    assert rows[1] == (0, 0)
    assert rows[2] == (1, 1)


def test_nearest_centroid_dispatch_threshold():
    """nearest_centroid_col switches to the UDF path past
    CENTROID_EXPR_MAX_TERMS and stays Catalyst below it."""
    from pyspark.sql.column import Column

    from triplestore_spark.operators.similarity import (
        CENTROID_EXPR_MAX_TERMS,
        nearest_centroid_col,
    )

    dim = 64
    small = [[0.0] * dim for _ in range(CENTROID_EXPR_MAX_TERMS // dim)]
    big = small + [[0.0] * dim]
    col_small = nearest_centroid_col(F.col("x"), small)
    col_big = nearest_centroid_col(F.col("x"), big)
    assert isinstance(col_small, Column) and isinstance(col_big, Column)
    # the literal-expression path embeds the centroids in the plan
    assert "array_max" in str(col_small)
    assert "array_max" not in str(col_big)


def test_ivf_largek_uses_udf_path_and_recalls(spark, emb):
    """n_clusters=256 (> CENTROID_EXPR_MAX_TERMS / dim) end-to-end:
    the UDF assigner is exercised and recall@5 vs brute force stays
    above the gate floor."""
    from triplestore_spark.operators.similarity import brute_force_topk, ivf_topk

    qids = [0, 1, 2]
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qids, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            emb, qids, k=5, n_clusters=256, n_probe=48, lloyd_iters=1
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.6, recall


def test_connected_components_nonconvergence_raises(spark):
    """Stopping before the fixed point must raise (silent wrong labels
    were ADVICE r2's correctness trap) and 'warn' mode must warn; a
    graph whose last allowed round IS the fixed point is accepted."""
    import warnings

    from triplestore_spark.operators.dedup import (
        ConvergenceError,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["doc_a", "doc_b"]
    )
    # rounds == the round that OBSERVED stability; the fixed point was
    # reached one round earlier
    free = {}
    connected_components_star(pairs, stats=free).collect()
    assert free["converged"] and free["rounds"] >= 3
    fixed_at = free["rounds"] - 1
    # max_iter == fixed_at: the loop never sees stability, only the
    # confirming round does — it must accept, not raise
    stats = {}
    ok = connected_components_star(pairs, max_iter=fixed_at, stats=stats)
    assert {r["cluster_id"] for r in ok.collect()} == {0}
    assert stats == {"rounds": free["rounds"], "converged": True}
    with pytest.raises(ConvergenceError):
        connected_components_star(pairs, max_iter=fixed_at - 1)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        stats = {}
        labels = connected_components_star(
            pairs, max_iter=fixed_at - 1, on_nonconverged="warn", stats=stats
        )
        assert any("converge" in str(x.message) for x in w)
    assert stats["converged"] is False
    # partial labels still cover every node
    assert labels.count() == 13


def test_bpe_token_count_matches_python_re(docs):
    """The pretokenizer regex must count exactly like Python's re over
    the same pattern (three independent engines: Java, RE2, Python)."""
    import re

    from triplestore_spark.operators.textstats import (
        BPE_TOKEN_PATTERN,
        bpe_token_count,
    )

    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_count(docs.limit(50)).collect()
    }
    pat = re.compile(BPE_TOKEN_PATTERN)
    for r in docs.limit(50).collect():
        assert got[r["doc_id"]] == len(pat.findall(r["text"])), r["doc_id"]


def test_chunk_documents_reconstructs(docs):
    """Chunk invariants: chunk 0 starts the doc, steps advance by
    chunk-overlap, every token is covered, and stitching chunk 0 +
    each subsequent chunk's tail reproduces the document exactly."""
    from triplestore_spark.operators.textstats import chunk_documents

    chunk, overlap = 16, 4
    sample = docs.limit(20)
    rows = chunk_documents(sample, chunk, overlap).collect()
    texts = {r["doc_id"]: r["text"].split(" ") for r in sample.collect()}
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_id"]] = r[
            "chunk_text"
        ].split(" ")
    step = chunk - overlap
    for doc_id, chunks in by_doc.items():
        toks = texts[doc_id]
        ids = sorted(chunks)
        assert ids == list(range(len(ids)))
        stitched = list(chunks[0])
        for i in ids[1:]:
            assert len(chunks[i]) <= chunk
            # each chunk starts exactly step tokens after the previous
            assert chunks[i] == toks[i * step : i * step + chunk]
            stitched += chunks[i][overlap:] if len(chunks[i]) > overlap else []
        # short docs: single chunk equals the doc
        assert stitched[: len(toks)] == toks


def test_pack_documents_formula_and_shards(spark, docs):
    """pack_id must equal floor(exclusive-prefix-sum / window) in
    doc_id order, and the sharded variant must reproduce the same
    assignment within each shard."""
    from triplestore_spark.operators.textstats import pack_documents

    window = 256
    rows = sorted(
        pack_documents(docs, window).collect(), key=lambda r: r["doc_id"]
    )
    run = 0
    for r in rows:
        assert r["pack_id"] == run // window, r["doc_id"]
        run += r["n_tokens"]

    sharded = docs.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(4)))
    srows = pack_documents(sharded, window, shard_col="shard").collect()
    by_shard: dict = {}
    for r in sorted(srows, key=lambda r: r["doc_id"]):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        run = 0
        for r in rs:
            assert r["pack_id"] == run // window, (shard, r["doc_id"])
            run += r["n_tokens"]


def test_connected_components_star_equivalence(spark):
    """Alternating large-star/small-star must produce exactly the
    union-find clustering on chains, stars, cliques, and a seeded
    random graph."""
    import random

    from triplestore_spark.operators.dedup import connected_components_star

    rng = random.Random(7)
    graphs = {
        "chain": [(i, i + 1) for i in range(24)],
        "star": [(0, i) for i in range(1, 20)],
        "clique+pairs": [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(100, 101), (200, 201)],
        "random": list(
            {
                tuple(sorted(rng.sample(range(60), 2)))
                for _ in range(70)
            }
        ),
    }
    for name, es in graphs.items():
        pairs = spark.createDataFrame(es, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components_star(pairs).collect()
        }
        assert got == union_find_components(es), name


def test_connected_components_star_beats_diameter(spark):
    """The point of the alternating algorithm: a 200-node chain
    (diameter 200) converges within 12 alternating rounds — label
    propagation would need 200."""
    from triplestore_spark.operators.dedup import connected_components_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    cc = connected_components_star(pairs, max_iter=12)
    assert {r["cluster_id"] for r in cc.collect()} == {0}
    assert cc.count() == 201


def test_connected_components_star_nonconvergence_raises(spark):
    from triplestore_spark.operators.dedup import (
        ConvergenceError,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    with pytest.raises(ConvergenceError):
        connected_components_star(pairs, max_iter=1)


# -- best-fit (FFD) sequence packing ----------------------------------


def test_pack_bestfit_matches_python_ffd(spark):
    """pack_documents_bestfit == a pure-Python FFD oracle per shard:
    same doc->pack assignment, deterministic under repartitioning."""
    import random

    from triplestore_spark.operators.textstats import (
        pack_documents_bestfit,
        packing_waste,
    )

    rng = random.Random(7)
    rows = [
        (i, i % 3, " ".join("w" for _ in range(rng.randrange(1, 700))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, shard bigint, text string"
    )
    W = 512
    got = {
        (r["doc_id"], r["shard"]): r["pack_id"]
        for r in pack_documents_bestfit(docs, W).collect()
    }
    n_tok = {i: len(t.split(" ")) for i, _, t in rows}

    def ffd_oracle(items):  # [(doc_id, n)] -> {doc_id: pack}
        items = sorted(items, key=lambda x: (-x[1], x[0]))
        space, out = [], {}
        for d, t in items:
            for i, rem in enumerate(space):
                if rem >= t:
                    space[i] -= t
                    out[d] = i
                    break
            else:
                space.append(max(0, W - t))
                out[d] = len(space) - 1
        return out

    for shard in (0, 1, 2):
        want = ffd_oracle(
            [(i, n_tok[i]) for i, s, _ in rows if s == shard]
        )
        for d, p in want.items():
            assert got[(d, shard)] == p, (shard, d)
    # feasibility: no pack over the window unless it is one long doc
    from pyspark.sql import functions as F

    per_pack = (
        pack_documents_bestfit(docs, W)
        .groupBy("shard", "pack_id")
        .agg(F.sum("n_tokens").alias("s"), F.count("*").alias("c"))
        .collect()
    )
    for r in per_pack:
        assert r["s"] <= W or r["c"] == 1, dict(r.asDict())
    # invariant under partitioning
    got2 = {
        (r["doc_id"], r["shard"]): r["pack_id"]
        for r in pack_documents_bestfit(
            docs.repartition(13), W
        ).collect()
    }
    assert got2 == got
    # waste audit runs and is sane
    w = {r["shard"]: r for r in packing_waste(
        pack_documents_bestfit(docs, W), W).collect()}
    for shard in (0, 1, 2):
        assert 0.0 <= w[shard]["waste_frac"] < 0.5
