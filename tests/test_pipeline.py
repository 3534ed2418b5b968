"""Pipeline correctness: span invariant + P/R vs the pure-Python oracle."""

import pytest
from pyspark.sql import functions as F

from triplestore_spark.pipeline.corpus import (
    build_corpus,
    read_documents,
    reassemble_text,
)
from triplestore_spark.pipeline.oracle import (
    oracle_corpus_triples,
    oracle_spans,
    precision_recall,
)
from triplestore_spark.pipeline.run import run_pipeline


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_documents(spark, sf_dir).cache()


def test_span_sequence_invariant(spark, docs):
    """Per-row span-sequence equality (kind, text, media_ref, order)
    vs the oracle corpus builder (BASELINE.json input_hint)."""
    corpus = build_corpus(docs)
    got = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in corpus.collect()
    }
    for row in docs.collect():
        want = oracle_spans(row["doc_id"], row["text"])
        assert got[f"doc:{row['doc_id']}"] == want, row["doc_id"]


def test_reassembly_identity(spark, docs):
    """Spans must reassemble to the exact original text — extraction
    never reorders or drops content."""
    corpus = build_corpus(docs)
    re_df = reassemble_text(corpus).withColumnRenamed("text", "rebuilt")
    joined = docs.select(
        F.concat(F.lit("doc:"), "doc_id").alias("doc_id"), "text"
    ).join(re_df, "doc_id")
    mismatches = joined.where(F.col("text") != F.col("rebuilt")).count()
    assert mismatches == 0


def test_pipeline_pr_vs_oracle(spark, docs, sf_dir):
    """P/R >= 0.95 of emitted (s,p,o) triples vs reference triples
    (BASELINE.json north_rule). Ours should be exactly 1.0/1.0."""
    canon = run_pipeline(spark, sf_dir)
    got = {
        (
            r["subject"],
            r["predicate"],
            r["object_kind"],
            r["object_value"],
            r["object_type"],
            r["object_lang"],
        )
        for r in canon.collect()
    }
    want = oracle_corpus_triples([r.asDict() for r in docs.collect()])
    p, r = precision_recall(got, want)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert (p, r) == (1.0, 1.0)


def _corpus_mention_surfaces(corpus, candidate_surfaces):
    """Reference: (doc_id, surface) from the corpus text spans."""
    doc_tokens = F.flatten(
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
            lambda s: F.split(s["text"], " "),
        )
    )
    surfaces = F.array_intersect(
        F.array_distinct(doc_tokens),
        F.array(*[F.lit(x) for x in sorted(candidate_surfaces)]),
    )
    return corpus.select("doc_id", F.explode(surfaces).alias("surface"))


def _corpus_media_objects(corpus):
    """Reference: (doc, media ref) from the corpus image spans."""
    media = F.filter(F.col("spans"), lambda s: s["kind"] == "image")
    return corpus.select(
        "doc_id", F.explode(media).alias("span")
    ).select("doc_id", "span.media_ref")


def test_candidates_direct_equals_corpus(spark, docs):
    """The doc-direct extractors (hot path, r7 optimization) must
    produce exactly the rows the corpus text and image spans give."""
    from triplestore_spark.pipeline import spec
    from triplestore_spark.pipeline.extract import (
        extract_all_candidates_direct,
        extract_mention_surfaces_direct,
    )

    corpus = build_corpus(docs)
    surf = list(spec.GAZETTEER)
    a = _corpus_mention_surfaces(corpus, surf)
    b = extract_mention_surfaces_direct(docs, candidate_surfaces=surf)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    m_direct = (
        extract_all_candidates_direct(docs, {})
        .where(F.col("predicate") == spec.PRED_HAS_MEDIA)
        .select("subject", "object_value")
    )
    assert sorted(map(tuple, _corpus_media_objects(corpus).collect())) == sorted(
        map(tuple, m_direct.collect())
    )


def test_single_pass_equals_union(spark, docs):
    """The single-pass extractor (hot path, r7 optimization: one
    projection + one explode for all candidate streams) must be
    row-multiset-identical to the broadcast gazetteer join unioned with
    the mention-free pass — the shape of candidate_triples' join
    strategies. The second mapping adds an N:1 surface->iri pair and
    surfaces no document contains (the join's inner-drop)."""
    from triplestore_spark.pipeline import spec
    from triplestore_spark.pipeline.extract import (
        extract_all_candidates_direct,
        extract_mention_surfaces_direct,
    )
    from triplestore_spark.pipeline.resolve import resolve_mentions
    from triplestore_spark.session import local_frame

    n_to_one = {"table": "kg:ent/hot", "value": "kg:ent/hot", "row": "kg:ent/cold"}
    for mapping in (dict(spec.GAZETTEER), {**n_to_one, "zzz-none": "kg:ent/x"}):
        single = extract_all_candidates_direct(docs, mapping)
        dictionary = local_frame(
            spark, sorted(mapping.items()), "surface string, iri string"
        )
        union = resolve_mentions(
            extract_mention_surfaces_direct(
                docs, candidate_surfaces=list(mapping)
            ),
            dictionary,
            strategy="broadcast",
        ).unionByName(extract_all_candidates_direct(docs, {}))
        assert single.columns == union.columns
        got = sorted(map(tuple, single.collect()))
        assert got == sorted(map(tuple, union.collect()))
        hits = {r[4] for r in got if r[2] == spec.PRED_MENTIONS}
        assert hits <= set(mapping.values()) and hits, mapping


def test_pipeline_dedup_is_canonical(spark, sf_dir):
    canon = run_pipeline(spark, sf_dir)
    assert canon.count() == canon.select("tkey").distinct().count()


def test_salted_strategy_same_result(spark, sf_dir):
    a = run_pipeline(spark, sf_dir, strategy="broadcast")
    b = run_pipeline(spark, sf_dir, strategy="salted")
    assert a.select("tkey").exceptAll(b.select("tkey")).isEmpty()
    assert b.select("tkey").exceptAll(a.select("tkey")).isEmpty()


def test_no_python_udf_in_plan(spark, sf_dir):
    """The extract/resolve hot path must stay JVM-side: no
    BatchEvalPython / ArrowEvalPython / mapInPandas nodes."""
    canon = run_pipeline(spark, sf_dir)
    plan = canon._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonMapInArrow", "MapInPandas"):
        assert marker not in plan, f"{marker} found in physical plan"


def test_curate_funnel_end_to_end(spark, sf_dir):
    """The composed curation funnel: every stage's semantics verified
    on the real corpus plus planted rows that each stage must act on
    (boilerplate line, PII, eval contamination, near-dup pair,
    over-cap source, mixture budget, final deterministic order)."""
    import hashlib
    import os

    from triplestore_spark.operators.textstats import filter_documents
    from triplestore_spark.pipeline.curate import curate

    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    hosts = [
        r.asDict()
        for r in filter_documents(base).orderBy("doc_id").limit(4).collect()
    ]
    assert len(hosts) == 4
    # stopword-bearing so a boiler-only doc still passes the filter's
    # lang gate (exercising the emptied-doc drop after line dedup)
    BOILER = "SUBSCRIBE TO the NEWSLETTER FOR a FREE UPDATE"
    # a standalone near-dup pair: reversed host tokens keep the
    # quality/lang stats but share no 3-shingles with the host, so the
    # pair clusters only with itself (canonical = 91004)
    rev = " ".join(reversed(hosts[2]["text"].split(" ")))
    near = rev.rsplit(" ", 2)[0] + " changed tokens"
    planted_texts = [
        # two filtered hosts carrying the same boilerplate line; the
        # body line gets a unique marker so it does not ALSO collide
        # with the host base doc's own text (which is a corpus line)
        (91001, f"{BOILER}\n" + hosts[0]["text"] + " uniqninety1"),
        (91002, f"{BOILER}\n" + hosts[1]["text"] + " uniqninety2"),
        # PII carrier
        (91003, hosts[2]["text"] + " contact bob@example.com"),
        # standalone near-dup pair (lines differ -> survive line dedup)
        (91004, rev),
        (91005, near),
        # boilerplate-only doc: hollowed out by line dedup, must be
        # dropped by the post-dedup length gate (never reaches LSH,
        # where emptied texts would share one degenerate bucket)
        (91006, BOILER),
    ]
    planted = [
        (did, t, "en", "srcp", len(t)) for did, t in planted_texts
    ]
    df = base.unionByName(spark.createDataFrame(planted, base.schema))
    eval_docs = spark.createDataFrame(
        [(1, hosts[3]["text"])], "doc_id long, text string"
    )

    res = curate(
        df,
        eval_docs,
        per_source_cap=5,
        token_budget=400,
        epochs=True,
        seed=42,
    )

    filtered_ids = {r["doc_id"] for r in res.filtered.select("doc_id").collect()}
    assert {91001, 91002, 91003, 91004, 91005, 91006} <= filtered_ids

    # line dedup kept exactly one corpus-wide copy of the boiler line,
    # and the hollowed-out boiler-only doc exited the funnel
    texts = {
        r["doc_id"]: r["text"]
        for r in res.line_deduped.select("doc_id", "text").collect()
    }
    n_boiler = sum(1 for t in texts.values() if BOILER in t)
    assert n_boiler == 1 and BOILER in texts[91001]
    assert 91006 not in texts

    # PII redacted at the redaction stage
    red = dict(
        res.redacted.where(F.col("doc_id") == 91003)
        .select("doc_id", "text")
        .collect()
    )
    assert "<EMAIL>" in red[91003] and "bob@example.com" not in red[91003]

    # the eval-contaminated host was reported and dropped
    cont_ids = {
        r["doc_id"] for r in res.contamination_report.select("doc_id").collect()
    }
    assert hosts[3]["doc_id"] in cont_ids
    decon_ids = {
        r["doc_id"] for r in res.decontaminated.select("doc_id").collect()
    }
    assert hosts[3]["doc_id"] not in decon_ids

    # near-dup pair: only the canonical (min id) survives
    nd_ids = {r["doc_id"] for r in res.near_deduped.select("doc_id").collect()}
    assert 91004 in nd_ids and 91005 not in nd_ids

    # per-source cap honored
    caps = res.capped.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    assert all(r["n"] <= 5 for r in caps.collect())

    # mixture sampling ran with epochs; fractions recorded
    assert res.mixture_fractions and "epoch" in res.docs.columns
    assert 0 < res.docs.count() <= res.capped.count() * 2

    # final order is the deterministic hash order
    order = [r["doc_id"] for r in res.docs.select("doc_id").collect()]

    def key(did):
        h = hashlib.md5(f"{did}:42".encode()).hexdigest()
        return (int(h[:8], 16) / float(1 << 32), did)

    assert order == sorted(order, key=key)

    # funnel is monotone; the line-dedup stage dropped exactly the
    # hollowed-out boiler-only doc on this corpus
    fc = res.funnel_counts()
    assert fc["filtered"] - 1 == fc["line_deduped"] == fc["redacted"]
    assert (
        fc["redacted"]
        >= fc["decontaminated"]
        >= fc["near_deduped"]
        >= fc["capped"]
        >= fc["sampled"]
    )


def test_curate_lm_screen_stage(spark, sf_dir):
    """Optional LM perplexity stage: a gibberish doc (passes the
    stats-based filter via stopword padding) is dropped by the
    reference-trained screen; reference-like docs survive; the knobs
    must be given together."""
    import os

    import pytest

    from triplestore_spark.operators.lm import (
        perplexity_score,
        train_ngram_lm,
    )
    from triplestore_spark.operators.textstats import filter_documents
    from triplestore_spark.pipeline.curate import curate

    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ref = filter_documents(base)
    # gibberish with stopwords so quality/lang gates pass (>=500
    # chars for the length half of the quality score, distinct
    # nonsense tokens for diversity) but bigrams unseen by the model
    junk = " ".join(f"the zq{i}x w{i}vk" for i in range(60))
    assert len(junk) >= 500
    host = ref.orderBy("doc_id").limit(1).collect()[0]
    df = base.unionByName(
        spark.createDataFrame(
            [(95001, junk, "en", host["source"], len(junk))], base.schema
        )
    )
    model = train_ngram_lm(ref, n=2, min_count=2)
    scores = {
        r["doc_id"]: r["avg_neg_logp"]
        for r in perplexity_score(
            filter_documents(df), model
        ).collect()
    }
    # threshold between the corpus and the planted junk
    thr = (
        max(v for d, v in scores.items() if d != 95001 and v is not None)
        + scores[95001]
    ) / 2
    assert scores[95001] > thr
    res = curate(
        df, lm_reference=ref, lm_max_avg_neg_logp=thr, lm_n=2
    )
    kept = {r["doc_id"] for r in res.lm_screened.select("doc_id").collect()}
    assert 95001 not in kept and len(kept) > 0
    assert res.funnel_counts()["lm_screened"] == len(kept)
    with pytest.raises(ValueError, match="go together"):
        curate(df, lm_reference=ref)
