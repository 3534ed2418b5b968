"""Pipeline correctness: span invariant + P/R vs the pure-Python oracle."""

import os

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


@pytest.mark.parametrize("max_bytes", [128 << 20, 16 << 10])
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_under_split_guard_needs_no_rdd(spark, sf_dir, sf, max_bytes, monkeypatch):
    """read_documents' under-split guard sizes the scan from the file
    listing alone, never through DataFrame.rdd, and repartitions exactly
    when the per-file rule sum(ceil(size / maxPartitionBytes)) is below
    the session's parallelism."""
    from pyspark.sql import DataFrame

    d = os.path.join(os.path.dirname(sf_dir), sf)
    path = os.path.join(d, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no {sf} test data")
    if os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        ]
    else:
        files = [path]
    est = sum(max(1, -(-os.path.getsize(f) // max_bytes)) for f in files)

    def no_rdd(self):
        raise AssertionError("the under-split guard converted to an RDD")

    monkeypatch.setattr(DataFrame, "rdd", property(no_rdd))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(max_bytes))
    try:
        docs = read_documents(spark, d)
    finally:
        spark.conf.set(key, old)
    plan = docs._jdf.queryExecution().logical().toString()
    repartitioned = "RepartitionByExpression" in plan
    assert repartitioned == (est < spark.sparkContext.defaultParallelism)
