"""Physical-plan audits — the plan we want, not just the one that
passed. Checks predicate pushdown into parquet scans, broadcast join
selection for the gazetteer, column pruning, and whole-stage codegen
on the hot paths."""

import pytest
from pyspark.sql import functions as F


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_str(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def mat_graph(spark, sf_dir, tmp_path_factory):
    from triplestore_spark.operators.materialize import (
        MaterializedGraph,
        materialize_graph,
    )
    from triplestore_spark.pipeline.run import run_pipeline

    path = str(tmp_path_factory.mktemp("mg") / "g")
    materialize_graph(run_pipeline(spark, sf_dir), path, num_partitions=4)
    return MaterializedGraph(spark, path)


def test_point_lookup_pushes_filters(mat_graph):
    """WithSubject must reach the parquet scan as PushedFilters on the
    SPO layout — that's what min/max row-group skipping keys on."""
    df = mat_graph.with_subject("doc:42")
    plan = plan_str(df)
    assert "PushedFilters" in plan
    assert "subject" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(mat_graph):
    """A 2-column projection must not read all 9 columns."""
    df = mat_graph.with_predicate("kg:mentions").select(
        "subject", "object_value"
    )
    plan = plan_str(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "subject" in read_schema and "object_value" in read_schema
    assert "object_lang" not in read_schema
    assert "tkey" not in read_schema


def test_gazetteer_join_is_broadcast(spark, sf_dir):
    """The ER dictionary join must be a BroadcastHashJoin — a shuffle
    of the mention stream here would dominate the pipeline at scale."""
    from triplestore_spark.pipeline.corpus import read_documents
    from triplestore_spark.pipeline.extract import extract_mention_surfaces_direct
    from triplestore_spark.pipeline.resolve import gazetteer_df, resolve_mentions

    resolved = resolve_mentions(
        extract_mention_surfaces_direct(read_documents(spark, sf_dir)),
        gazetteer_df(spark),
    )
    plan = plan_str(resolved)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_extract_path_whole_stage_codegen(spark, sf_dir):
    """The extraction scan->explode->project path must run inside
    WholeStageCodegen spans (no interpreted projection fallbacks)."""
    from triplestore_spark.pipeline.corpus import read_documents
    from triplestore_spark.pipeline.extract import extract_all_candidates_direct
    from triplestore_spark.pipeline.spec import GAZETTEER

    cands = extract_all_candidates_direct(
        read_documents(spark, sf_dir), GAZETTEER
    )
    # the under-split repartition wraps the plan in AdaptiveSparkPlan,
    # which hides codegen markers until stages are finalized — execute
    # first, then read the final adaptive plan (r7)
    cands.collect()
    plan = plan_str(cands)
    # '*(n)' prefixes mark WholeStageCodegen stages in the tree string
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_is_single_hash_aggregate(spark, sf_dir):
    """dropDuplicates(tkey) must compile to partial+final HashAggregate
    (map-side combine), not a global sort."""
    from triplestore_spark.operators.graph import dedup_triples
    from triplestore_spark.queries import tpch_graph_triples

    plan = plan_str(dedup_triples(tpch_graph_triples(spark, sf_dir)))
    assert plan.count("HashAggregate") >= 2
    assert "Sort " not in plan


def test_minhash_verify_has_no_shingle_self_join(spark, sf_dir):
    """The verify stage must never contain a (shingle = shingle AND
    doc_a < doc_b) self-join — that is the full-corpus quadratic join
    the LSH exists to avoid (a hot shingle makes it O(n^2) on one
    key). The only inequality join allowed is the bucket join."""
    import os

    from triplestore_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = optimized_str(
        minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8,
                          verify_threshold=0.5)
    )
    for line in plan.splitlines():
        if "Join" in line and "shingle" in line:
            assert " < " not in line, f"shingle self-join leaked back: {line}"


def test_contains_limits_scan(mat_graph):
    """Contains compiles to filter + limit 1 — no full materialization."""
    from triplestore_spark.dsl import subj_pred

    df = mat_graph.df.where(
        F.col("tkey") == subj_pred("doc:42", "rdf:type").resource("kg:Document").tkey()
    ).limit(1)
    plan = plan_str(df)
    assert "Limit" in plan or "CollectLimit" in plan
    assert "PushedFilters" in plan


def test_lsh_topk_bucket_shuffle_excludes_vectors(spark, sf_dir):
    """The banded LSH candidate join must shuffle only (id, band,
    bucket) rows — the wide embedding column re-joins per candidate id
    AFTER dedup. An Exchange carrying `embedding` on the bucket side
    would ship every vector bands times at corpus scale."""
    import os

    from triplestore_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    plan = plan_str(lsh_topk(emb, [0, 1, 2], k=5, dim=dim))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "bucket" in line:
            assert "embedding" not in line, line
            assert "nvec" not in line and "qvec" not in line, line


def test_boilerplate_shuffles_exclude_text(spark, sf_dir):
    """Both boilerplate_ngrams shuffles (gram doc-count, join back)
    must move only (doc_id, md5-gram) rows: grams are hashed BEFORE
    the explode, so no Exchange ever carries the `text` column — at
    corpus scale that is the difference between shuffling 16-byte keys
    and shuffling the corpus n times."""
    import os

    from triplestore_spark.operators.textstats import boilerplate_ngrams

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = plan_str(boilerplate_ngrams(docs))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_redact_pii_is_shuffle_free_codegen(spark, sf_dir):
    """The PII scrub is a pure map: no Exchange anywhere, no Python
    eval, and the regexp chain inside a WholeStageCodegen span — at
    100 TB this op must cost exactly one scan."""
    import os

    from triplestore_spark.operators.textstats import redact_pii

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = plan_str(redact_pii(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(1)" in plan


def test_decontaminate_shuffles_exclude_text(spark, sf_dir):
    """Both decontamination shuffles (gram join, doc_id anti-join)
    move md5 keys / ids only — the text column never crosses an
    Exchange (same narrow-key discipline as boilerplate_ngrams)."""
    import os

    from triplestore_spark.operators.textstats import decontaminate

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    clean, cont = decontaminate(docs, docs.limit(3), n=8)
    for df in (clean, cont):
        for line in plan_str(df).splitlines():
            if "Exchange hashpartitioning" in line:
                assert "text" not in line, line
    assert "LeftAnti" in plan_str(clean)


def test_binary_split_ranges_spread_tasks(spark, tmp_path):
    """The split reader decodes each byte range in its own task: one
    partition per range, whatever the core count, never collapsed."""
    from pyspark.sql import functions as F

    from triplestore_spark.dsl import subj_pred, triples_to_df
    from triplestore_spark.sources.binary import (
        _list_ranges,
        encode_binary_triples,
        read_binary_split,
        scan_ranges,
    )

    ts = [subj_pred(f"s{i}", "p").integer_literal(i) for i in range(60)]
    p = tmp_path / "one.bin"
    p.write_bytes(encode_binary_triples(triples_to_df(spark, ts)))
    n_ranges = len(_list_ranges(spark, str(p), 512))
    assert n_ranges >= 3
    # scan_ranges runs the same range table through one Python task
    # per partition and returns one row per range
    per_range_task = (
        scan_ranges(spark, str(p), split_size=512)
        .groupBy(F.spark_partition_id().alias("pp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r["n"] for r in per_range_task) == [1] * n_ranges
    df = read_binary_split(spark, str(p), split_size=512)
    assert df.rdd.getNumPartitions() == n_ranges
    per_task = (
        df.groupBy(F.spark_partition_id().alias("pp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # the last range may hold only the tail of a record that starts
    # before it, so it can decode no rows; no task owns the file
    assert len(per_task) >= n_ranges - 1
    total = sum(r["n"] for r in per_task)
    assert total == len(ts)
    assert max(r["n"] for r in per_task) < total


def test_dedup_lines_corpus_two_data_shuffles(spark, sf_dir):
    """Line dedup is exactly two data shuffles (line-fingerprint
    window, doc_id reassembly) plus the broadcast/SMJ metadata
    re-attach — rank and occurrence count share one window Exchange,
    and doc metadata never rides through the line explode."""
    import os

    from triplestore_spark.operators.textstats import dedup_lines_corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = plan_str(dedup_lines_corpus(docs))
    hash_parts = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    ]
    assert len(hash_parts) == 2, plan
    assert any("fp#" in line for line in hash_parts)
    assert any("doc_id#" in line for line in hash_parts)
    # one Window node computes both rn and cnt
    assert plan.count("Window") == 1, plan


def test_rank_by_key_desc_is_distributed(spark):
    """The two-pass rank (VERDICT r5 #7): the data-side window
    partitions by _pid (never a global unpartitioned sort-window over
    the rows), the data is range-partitioned on the key, and the
    output equals the single-window reference rank."""
    from pyspark.sql.window import Window

    from triplestore_spark.operators.graph import rank_by_key_desc

    df = spark.range(20_000).select(
        F.md5(F.col("id").cast("string")).alias("tkey")
    )
    out = rank_by_key_desc(df, num_partitions=8)
    plan = plan_str(out)
    assert "rangepartitioning(tkey" in plan
    # the row_number over the DATA must be partitioned by _pid; the
    # only ORDER-BY-only window allowed is the offsets prefix sum over
    # the config-sized per-partition counts
    assert "windowspecdefinition(_pid" in plan
    want = [
        tuple(r)
        for r in df.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("tkey").desc())),
        ).collect()
    ]
    got = [tuple(r) for r in out.collect()]
    assert sorted(got) == sorted(want)
    # >1 partition actually feeds the rank
    n_parts = (
        df.repartitionByRange(8, F.col("tkey").desc())
        .withColumn("_pid", F.spark_partition_id())
        .select("_pid")
        .distinct()
        .count()
    )
    assert n_parts > 1


def test_ts_pack_gate_window_is_sharded(spark, sf_dir):
    """VERDICT r5 #2: the oracle-certified packing plan must be the
    sharded one — every window spec in the gate's plan partitions by
    shard; no unpartitioned WindowExec funnels the corpus through one
    task."""
    import __spark_entry__ as entry

    df = entry.queries()["ts_pack"](spark, sf_dir)
    plan = plan_str(df)
    specs = plan.count("windowspecdefinition(")
    assert specs >= 1
    assert specs == plan.count("windowspecdefinition(shard")


def test_union_aggregation_single_exchange(mat_graph):
    """Aggregation over UNION: the arms concatenate WITHOUT an
    exchange; exactly one Exchange sits between the partial and final
    HashAggregate — same cost as aggregating one arm."""
    from triplestore_spark.operators.bgp_agg import bgp_union

    df = bgp_union(
        mat_graph,
        [
            [("?d", "kg:mentions", "?x")],
            [("?d", "kg:hasMedia", "?x")],
        ],
        group_by=["?d"],
        aggregates={"n": ("count", "?x")},
    )
    plan = plan_str(df)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") == 2, plan  # partial + final
    assert "Union" in plan
    # both arms' predicate constants reach their scans
    opt = optimized_str(df)
    assert opt.count("kg:mentions") >= 1 and opt.count("kg:hasMedia") >= 1


def test_subquery_join_broadcasts_small_side(spark, sf_dir, mat_graph):
    """joins=: an aggregated subquery solution set (one row per
    entity) must broadcast into the outer join — the binding rows
    never reshuffle for it."""
    from triplestore_spark.operators.bgp import bgp_match
    from triplestore_spark.operators.bgp_agg import bgp_select

    sub = bgp_select(
        mat_graph,
        [("?d2", "kg:mentions", "?e")],
        group_by=["?e"],
        aggregates={"n": ("count", "*")},
    ).select("e", "n")
    df = bgp_match(
        mat_graph, [("?d", "kg:mentions", "?e")], joins=[sub]
    )
    df.count()  # let AQE finalize the join strategy
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_seq_closure_edge_relation_composed_once(mat_graph):
    """(p/q)* builds its composed edge relation once; each level of
    the walk joins the cached relation (visible as one extra join in
    the edge lineage, not a per-level re-derivation)."""
    from triplestore_spark.operators.bgp import _seq_edges, _parse_path_step

    alts, lo, hi = _parse_path_step("(kg:mentions/kg:source)*")
    edges = _seq_edges(mat_graph, alts.steps)
    opt = optimized_str(edges)
    # the composition is a single two-scan join, aggregated distinct
    assert opt.count("Join") == 1, opt
    assert "kg:mentions" in opt and "kg:source" in opt


def test_closure_level_joins_leaves_and_shuffles_once(spark, monkeypatch):
    """The fourth level of a closure: the frontier broadcasts against
    the edge set in the static plan already, the min-depth merge is the
    level's only hash shuffle, no anti-join re-reads the reached set,
    and the edge set is a checkpoint leaf, not a cached relation."""
    from triplestore_spark import schema as S
    from triplestore_spark.operators import bgp
    from triplestore_spark.operators.graph import RDFGraph
    from triplestore_spark.session import local_frame

    rows = [
        (f"n{i}", False, "p", "res", f"n{j}", "", "")
        for i in range(40)
        for j in ((i + 1) % 40, (i * 7 + 1) % 40)
    ]
    g = RDFGraph(local_frame(spark, rows, S.TRIPLE_SCHEMA), cache=False)
    levels = []
    step = bgp._reach_level

    def spy(state, edges, level):
        levels.append(step(state, edges, level))
        return levels[-1]

    monkeypatch.setattr(bgp, "_reach_level", spy)
    assert len(bgp.property_path(g, ["p*"], start="n0").collect()) == 40
    assert len(levels) >= 4
    level = levels[3]
    level.collect()
    adaptive = level._jdf.queryExecution().executedPlan()
    plan = adaptive.toString()  # final and initial plan
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "LeftAnti" not in plan, plan
    assert "InMemory" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    final = adaptive.finalPhysicalPlan().toString()
    assert final.count("Exchange hashpartitioning") == 1, final
