"""Tree traversal goldens (reference tree_test.go) + DOT sink
(reference codec_test.go TestEncodeDotGraph)."""

import pytest

from triplestore_spark import schema as S
from triplestore_spark.dsl import parse_typed, subj_pred, subj_pred_res
from triplestore_spark.operators.dot import encode_dot
from triplestore_spark.operators.graph import RDFGraph, TripleSource
from triplestore_spark.operators.tree import Tree
from triplestore_spark.session import local_frame


@pytest.fixture(scope="module")
def tree_graph(spark):
    src = TripleSource(spark)
    src.add(
        subj_pred("1", "->").resource("2"),
        subj_pred("2", "->").resource("3"),
        subj_pred("2", "->").resource("4"),
        subj_pred("3", "->").resource("5"),
        subj_pred("3", "->").resource("6"),
        subj_pred("3", "->").resource("7"),
        subj_pred("4", "->").resource("8"),
    )
    return src.snapshot()


def fmt(visits):
    return "".join(f"({d}){n} " for n, d in visits)


def test_traverse_dfs_golden(tree_graph):
    # reference tree_test.go:32-54
    tree = Tree(tree_graph, "->")
    assert fmt(tree.traverse_dfs("1")) == "(0)1 (1)2 (2)3 (3)5 (3)6 (3)7 (2)4 (3)8 "
    assert fmt(tree.traverse_dfs("8")) == "(0)8 "
    assert fmt(tree.traverse_dfs("4")) == "(0)4 (1)8 "
    assert fmt(tree.traverse_dfs("none")) == "(0)none "


def test_traverse_ancestors_golden(tree_graph):
    # reference tree_test.go:56-74
    tree = Tree(tree_graph, "->")
    assert fmt(tree.traverse_ancestors("6")) == "(0)6 (1)3 (2)2 (3)1 "
    assert fmt(tree.traverse_ancestors("1")) == "(0)1 "
    assert fmt(tree.traverse_ancestors("none")) == "(0)none "


def test_traverse_siblings_golden(spark):
    # reference tree_test.go:77-114
    src = TripleSource(spark)
    src.add(
        subj_pred("1", "->").resource("2"),
        subj_pred("1", "->").resource("3"),
        subj_pred("3", "->").resource("4"),
        subj_pred("3", "->").resource("5"),
        subj_pred("3", "->").resource("6"),
        subj_pred("3", "->").resource("7"),
        subj_pred("3", "->").resource("8"),
        subj_pred("3", "->").resource("9"),
        subj_pred("5", "type").string_literal("donkey"),
        subj_pred("7", "type").string_literal("donkey"),
        subj_pred("9", "type").string_literal("donkey"),
    )
    g = src.snapshot()

    def criteria(graph, node):
        rows = graph.with_subj_pred(node, "type").collect()
        if rows:
            from triplestore_spark.dsl import row_to_triple

            return parse_typed(row_to_triple(rows[0]).obj, "xsd:string")
        return ""

    tree = Tree(g, "->")
    assert fmt(tree.traverse_siblings("5", criteria)) == "(0)5 (0)7 (0)9 "


def test_descendants_distributed_shape(tree_graph):
    df = Tree(tree_graph, "->").descendants("1")
    rows = {(r["node"], r["depth"]) for r in df.collect()}
    assert rows == {
        ("1", 0),
        ("2", 1),
        ("3", 2),
        ("4", 2),
        ("5", 3),
        ("6", 3),
        ("7", 3),
        ("8", 3),
    }


def test_walks_leave_no_cached_frame(spark, uncheckpointed_persisted):
    """descendants / ancestors_df hold their edge set and levels as
    checkpoint leaves: after collecting, no cached frame is left."""
    rows = [(str(i), False, "->", "res", str(i + 1), "", "") for i in range(4)]
    tree = Tree(
        RDFGraph(local_frame(spark, rows, S.TRIPLE_SCHEMA), cache=False), "->"
    )
    assert len(tree.descendants("0").collect()) == 5
    assert len(tree.ancestors_df("4").collect()) == 5
    left = uncheckpointed_persisted()
    assert not left, left


def test_encode_dot(spark):
    # reference codec_test.go TestEncodeDotGraph
    src = TripleSource(spark)
    src.add(
        subj_pred_res("me", "rel", "you"),
        subj_pred_res("me", "rdf:type", "person"),
        subj_pred_res("you", "rel", "other"),
        subj_pred_res("you", "rdf:type", "child"),
        subj_pred_res("other", "any", "john"),
    )
    out = encode_dot(src.snapshot(), "rel")
    lines = out.split("\n")
    assert len(lines) == 6
    for want in [
        'digraph "rel" {',
        '"me" -> "you";',
        '"me" [label="me<person>"];',
        '"you" -> "other";',
        '"you" [label="you<child>"];',
        "}",
    ]:
        assert want in lines
