"""Source/RDFGraph semantics — mirrors reference source_test.go."""

import pytest

from triplestore_spark.dsl import resource, subj_pred
from triplestore_spark.operators.graph import RDFGraph, TripleSource


@pytest.fixture(scope="module")
def snap(spark):
    # dataset shaped like reference source_test.go:46-94
    src = TripleSource(spark)
    src.add(
        subj_pred("one", "two").integer_literal(3),
        subj_pred("one", "two").integer_literal(4),
        subj_pred("four", "two").integer_literal(42),
        subj_pred("one", "six").resource("seven"),
        subj_pred("eight", "six").resource("seven"),
    )
    return src.snapshot()


def test_count(snap):
    assert snap.count() == 5


def test_with_subject(snap):
    assert snap.with_subject("one").count() == 3
    assert snap.with_subject("missing").count() == 0


def test_with_predicate(snap):
    assert snap.with_predicate("two").count() == 3
    assert snap.with_predicate("six").count() == 2


def test_with_object(snap):
    assert snap.with_object(resource("seven")).count() == 2
    from triplestore_spark.dsl import lit_int

    assert snap.with_object(lit_int(42)).count() == 1


def test_with_subj_pred(snap):
    assert snap.with_subj_pred("one", "two").count() == 2
    assert snap.with_subj_pred("one", "six").count() == 1
    assert snap.with_subj_pred("one", "missing").count() == 0


def test_with_subj_obj(snap):
    assert snap.with_subj_obj("one", resource("seven")).count() == 1


def test_with_pred_obj(snap):
    assert snap.with_pred_obj("six", resource("seven")).count() == 2


def test_contains(snap):
    assert snap.contains(subj_pred("one", "two").integer_literal(3))
    assert not snap.contains(subj_pred("one", "two").integer_literal(5))


def test_add_dedup(spark):
    # reference source_test.go:96-117: 4 adds -> 3 triples
    src = TripleSource(spark)
    src.add(
        subj_pred("one", "two").integer_literal(3),
        subj_pred("one", "two").integer_literal(3),
        subj_pred("one", "two").integer_literal(4),
        subj_pred("four", "two").integer_literal(42),
    )
    assert src.snapshot().count() == 3


def test_remove(spark):
    src = TripleSource(spark)
    t1 = subj_pred("one", "two").integer_literal(3)
    t2 = subj_pred("one", "two").integer_literal(4)
    src.add(t1, t2)
    src.remove(t1)
    snap = src.snapshot()
    assert snap.count() == 1
    assert not snap.contains(t1)
    assert snap.contains(t2)


def test_add_after_remove_restores(spark):
    src = TripleSource(spark)
    t = subj_pred("a", "b").resource("c")
    src.add(t)
    src.remove(t)
    src.add(t)
    assert src.snapshot().contains(t)


def test_snapshot_immutability_and_memoization(spark):
    src = TripleSource(spark)
    t1 = subj_pred("one", "two").integer_literal(3)
    src.add(t1)
    snap1 = src.snapshot()
    assert src.snapshot() is snap1  # memoized while clean
    t2 = subj_pred("x", "y").resource("z")
    src.add(t2)
    snap2 = src.snapshot()
    assert snap2 is not snap1
    assert snap1.count() == 1  # old snapshot unchanged
    assert snap2.count() == 2


def test_set_equality(spark):
    a = TripleSource(spark)
    b = TripleSource(spark)
    t1 = subj_pred("one", "two").integer_literal(3)
    t2 = subj_pred("four", "five").resource("six")
    a.add(t1, t2)
    b.add(t2)
    b.add(t1)  # different batch order, same set
    assert a.snapshot().equal(b.snapshot())
    b.add(subj_pred("extra", "p").resource("o"))
    assert not a.snapshot().equal(b.snapshot())


def test_contains_batch(spark, snap):
    from triplestore_spark.dsl import triples_to_df

    probe = triples_to_df(
        spark,
        [
            subj_pred("one", "two").integer_literal(3),
            subj_pred("nope", "nope").integer_literal(0),
        ],
    )
    assert snap.contains_batch(probe).count() == 1


def test_materialized_layouts(spark, tmp_path, snap):
    from triplestore_spark.operators.materialize import (
        MaterializedGraph,
        materialize_graph,
    )

    path = str(tmp_path / "graph")
    m1 = materialize_graph(snap.df, path, num_partitions=2)
    # memoized: same fingerprint -> second call is a no-op
    m2 = materialize_graph(snap.df, path, num_partitions=2)
    assert m1["fingerprint"] == m2["fingerprint"]

    g = MaterializedGraph(spark, path)
    assert g.count() == 5
    assert g.with_subject("one").count() == 3
    assert g.with_predicate("two").count() == 3
    assert g.with_object(resource("seven")).count() == 2
    assert g.with_subj_pred("one", "six").count() == 1
    assert g.with_pred_obj("six", resource("seven")).count() == 2
    assert g.contains(subj_pred("four", "two").integer_literal(42))
    # equal to the in-memory snapshot
    assert g.equal(snap)


def test_materialized_lookups_read_only_their_layout(
    spark, tmp_path, snap, monkeypatch
):
    """Routing pin: each lookup reads only the files of the layout the
    reference's index choice names (subject bound -> SPO, else
    predicate -> POS, else object -> OSP), and returns the rows the
    in-memory graph of the same triples returns."""
    from triplestore_spark import schema as S
    from triplestore_spark.dsl import lit_int
    from triplestore_spark.operators.materialize import (
        MaterializedGraph,
        materialize_graph,
    )

    path = str(tmp_path / "graph")
    materialize_graph(snap.df, path, num_partitions=2)
    g = MaterializedGraph(spark, path)

    def rows(df):
        return sorted(tuple(r) for r in df.select(*S.TRIPLE_FIELDS).collect())

    seven = resource("seven")
    for layout, lookup, args in [
        ("spo", "with_subject", ("one",)),
        ("spo", "with_subj_pred", ("one", "six")),
        ("spo", "with_subj_obj", ("one", seven)),
        ("pos", "with_predicate", ("two",)),
        ("pos", "with_pred_obj", ("two", lit_int(42))),
        ("osp", "with_object", (seven,)),
    ]:
        got = getattr(g, lookup)(*args)
        files = got.inputFiles()
        assert files and all(f"/{layout}/" in f for f in files), (
            lookup,
            files,
        )
        want = rows(getattr(snap, lookup)(*args))
        assert want and rows(got) == want, lookup

    # contains answers a bool: pin the files of the frame it takes from
    read = []
    take = type(g.df).take

    def spy(df, n):
        read.extend(df.inputFiles())
        return take(df, n)

    monkeypatch.setattr(type(g.df), "take", spy)
    hit = subj_pred("four", "two").integer_literal(42)
    miss = subj_pred("four", "two").integer_literal(43)
    assert g.contains(hit) and snap.contains(hit)
    assert not g.contains(miss) and not snap.contains(miss)
    assert read and all("/spo/" in f for f in read), read


def test_materialized_operators_read_only_their_layout(
    spark, tmp_path, monkeypatch
):
    """Routing pin for the operators: every predicate-scoped read (the
    edge view, Tree.edges, encode_dot's edge and rdf:type scans, the
    RDFS schema and type scans) reads only POS files of a
    MaterializedGraph; describe reads SPO (subject side) and OSP
    (object side); and each returns what the in-memory graph of the
    same triples returns."""
    from pyspark.sql.classic.dataframe import DataFrame

    from triplestore_spark import schema as S
    from triplestore_spark.dsl import bnode, triples_to_df
    from triplestore_spark.operators.dot import encode_dot
    from triplestore_spark.operators.graph_algos import edge_view
    from triplestore_spark.operators.infer import rdfs_expand_types
    from triplestore_spark.operators.materialize import (
        MaterializedGraph,
        materialize_graph,
    )
    from triplestore_spark.operators.tree import Tree

    df = triples_to_df(
        spark,
        [
            subj_pred("a", "kg:link").resource("b"),
            subj_pred("b", "kg:link").resource("c"),
            subj_pred("a", "kg:link").string_literal("not a node"),
            subj_pred("c", "kg:link").bnode("a"),
            subj_pred("a", "rdf:type").resource("kg:Sub"),
            subj_pred("c", "rdf:type").resource("kg:Cls"),
            subj_pred("kg:Sub", "rdfs:subClassOf").resource("kg:Cls"),
            subj_pred("a", "rdfs:label").string_literal("alpha beta"),
            subj_pred("b", "rdfs:label").string_literal("beta gamma"),
            subj_pred("b", "kg:note").string_literal("alpha"),
            subj_pred("d", "kg:ref").resource("a"),
        ],
    )
    path = str(tmp_path / "graph")
    materialize_graph(df, path, num_partitions=2)
    mg = MaterializedGraph(spark, path)
    mem = RDFGraph(df, cache=False)

    def layouts(frame):
        files = frame.inputFiles()
        assert files
        return {f.rstrip("/").split("/")[-2] for f in files}

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    for name, read in [
        ("edge_view", lambda g: edge_view(g, "kg:link")),
        ("Tree.edges", lambda g: Tree(g, "kg:link").edges()),
    ]:
        assert layouts(read(mg)) == {"pos"}, name
        assert rows(read(mg)) == rows(read(mem)) == [("a", "b"), ("b", "c")]

    # collected frames (DOT's scans, the RDFS schema): spy on what
    # they read
    collect = DataFrame.collect

    def reading_collects(run):
        seen = []

        def spy(frame):
            seen.append(layouts(frame))
            return collect(frame)

        with monkeypatch.context() as m:
            m.setattr(DataFrame, "collect", spy)
            return run(), seen

    dot, seen = reading_collects(lambda: encode_dot(mg, "kg:link"))
    assert seen and all(r == {"pos"} for r in seen)
    assert dot == encode_dot(mem, "kg:link") and '"a" -> "b";' in dot

    inferred, seen = reading_collects(lambda: rdfs_expand_types(mg))
    assert seen == [{"pos"}]  # the subClassOf schema scan
    # asserted triples read SPO, the rdf:type scan POS
    assert layouts(inferred) == {"spo", "pos"}
    fields = S.TRIPLE_FIELDS
    assert rows(inferred.select(*fields)) == rows(
        rdfs_expand_types(mem).select(*fields)
    )
    assert ("a", False, "rdf:type", "res", "kg:Cls", "", "") in rows(
        inferred.select(*fields)
    )

    for node in ("a", bnode("a")):
        got = mg.describe(node)
        assert layouts(got) == {"spo", "osp"}
        got_rows = rows(got.select(*fields))
        assert got_rows and got_rows == rows(mem.describe(node).select(*fields))
    # the IRI a and the bnode a stay apart
    assert rows(mg.describe(bnode("a")).select("subject")) == [("c",)]


def test_materialized_snapshot_at_file_uri(spark, tmp_path, snap, monkeypatch):
    """A snapshot rooted at a file:// URI keeps its manifest next to its
    layouts (not under the driver's working directory), reopens from
    another working directory, and memoizes on the manifest it wrote."""
    import json
    import os

    from triplestore_spark.operators.materialize import (
        MaterializedGraph,
        materialize_graph,
    )

    for cwd in ("a", "b"):
        (tmp_path / cwd).mkdir()
    monkeypatch.chdir(tmp_path / "a")
    root = tmp_path / "graph"
    uri = "file://" + str(root)
    m1 = materialize_graph(snap.df, uri, num_partitions=2)
    assert json.loads((root / "_manifest.json").read_text()) == m1

    def layout_mtimes():
        return {
            (layout, f): os.stat(root / layout / f).st_mtime_ns
            for layout in m1["layouts"]
            for f in os.listdir(root / layout)
        }

    written = layout_mtimes()
    monkeypatch.chdir(tmp_path / "b")
    g = MaterializedGraph(spark, uri)
    assert g.manifest == m1
    assert g.equal(snap)
    # memo hit: the old manifest comes back and no layout is rewritten
    assert materialize_graph(snap.df, uri, num_partitions=2) == m1
    assert layout_mtimes() == written


def test_materialize_failed_write_releases_cache(
    spark, tmp_path, monkeypatch, uncheckpointed_persisted
):
    """A layout write that raises leaves no cached frame behind, and the
    previous snapshot's manifest still reads back unchanged."""
    from pyspark.sql.readwriter import DataFrameWriter

    from triplestore_spark.dsl import triples_to_df
    from triplestore_spark.operators.materialize import (
        MaterializedGraph,
        materialize_graph,
    )

    df = triples_to_df(
        spark, [subj_pred(f"s{i}", "p").integer_literal(i) for i in range(20)]
    )
    path = str(tmp_path / "graph")
    m1 = materialize_graph(df, path, num_partitions=2)

    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, p, *args, **kwargs):
        if p.endswith("/pos"):
            raise IOError("injected pos write failure")
        return real_parquet(self, p, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(IOError, match="injected"):
        materialize_graph(df, path, num_partitions=2, force=True)
    assert uncheckpointed_persisted() == []
    assert MaterializedGraph(spark, path).manifest == m1


def test_layout_partitions_follow_size_and_parallelism():
    """Up to 8 MiB per core the count is one partition per 8 MiB (the
    sizes every benchmark and gate writes); past it one partition per
    core, up to 512 MiB partitions, so 100 TiB stays bounded."""
    from triplestore_spark.operators.materialize import layout_partitions

    mib = 1 << 20
    for par in (1, 4, 32):
        for nbytes in (0, 1, 8 * mib, 8 * mib + 1, 8 * mib * par):
            if nbytes > 8 * mib * par:
                continue
            assert layout_partitions({"nbytes": nbytes}, par) == max(
                1, -(-nbytes // (8 * mib))
            )
    assert layout_partitions({"nbytes": 100 * mib * 32}, 32) == 32
    for par in (4, 1000):
        assert layout_partitions({"nbytes": 100 << 40}, par) == 204_800


def test_snapshot_at_time_travel(spark):
    """snapshot_at(n) reconstructs the graph after the first n ops of
    the log: 0 = empty, len = snapshot(), removes respected mid-log,
    and later ops don't leak backwards."""
    import pytest

    src = TripleSource(spark)
    t1 = subj_pred("one", "two").integer_literal(3)
    t2 = subj_pred("one", "two").integer_literal(4)
    t3 = subj_pred("four", "two").integer_literal(42)
    src.add(t1, t2)   # op 0
    src.remove(t1)    # op 1
    src.add(t3)       # op 2
    assert len(src) == 3
    assert src.snapshot_at(0).count() == 0
    g1 = src.snapshot_at(1)
    assert g1.count() == 2 and g1.contains(t1) and g1.contains(t2)
    g2 = src.snapshot_at(2)
    assert g2.count() == 1 and not g2.contains(t1)
    g3 = src.snapshot_at(3)
    assert g3.count() == 2 and g3.contains(t3)
    assert g3.equal(src.snapshot())
    with pytest.raises(ValueError, match="n_ops"):
        src.snapshot_at(4)
    with pytest.raises(ValueError, match="n_ops"):
        src.snapshot_at(-1)
