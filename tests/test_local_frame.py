"""Driver-side constant frames: `session.local_frame` builds them as
Arrow LocalRelations, so no query path starts a Python worker for a
seed, a probe table or a one-row constant."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.session import local_frame

_KEYED_ROW = ("s", False, "p", "res", "o", "", "", "<o>", "k1")

# every schema shape the package's call sites use, with and without rows
CASES = [
    ("_n string", [("a",), (None,)]),
    ("n int, m long", [(1, 2**40), (-3, None)]),
    ("x double, b boolean", [(1.5, True), (-0.0, False)]),
    ("node string, depth int, path array<string>", [("r", 0, ["r"])]),
    (
        "query_id long, qvec array<double>, cluster int",
        [(7, [0.25, -1.0], 3), (8, [], 0)],
    ),
    (S.TRIPLE_SCHEMA, [("s", False, "p", "lit", "v", "xsd:string", "")]),
    (S.TRIPLE_SCHEMA_KEYED, [_KEYED_ROW, ("b", True) + _KEYED_ROW[2:]]),
]


def optimized_str(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("schema,rows", CASES)
@pytest.mark.parametrize("empty", [False, True])
def test_local_frame_matches_create_dataframe(spark, schema, rows, empty):
    rows = [] if empty else rows
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    assert optimized_str(got).startswith("LocalRelation")


def test_local_frame_large_input_stays_local(spark):
    df = local_frame(spark, [(str(i),) for i in range(50_000)], "_n string")
    assert optimized_str(df).startswith("LocalRelation")
    assert df.agg(F.countDistinct("_n")).first()[0] == 50_000


def _chain_graph(spark):
    from triplestore_spark.operators.graph import RDFGraph

    rows = [(f"n{i}", False, "p", "res", f"n{i+1}", "", "") for i in range(3)]
    return RDFGraph(local_frame(spark, rows, S.TRIPLE_SCHEMA), cache=False)


def _python_rdd_leaves(df) -> list[str]:
    """LogicalRDD leaves of the optimized plan that are not checkpoint
    blocks: a parallelized Python list, which runs Python tasks on
    every evaluation. (A level an operator localCheckpoints is a
    LogicalRDD too, over a checkpointed RDD, and runs no Python.)"""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [
        leaf.toString()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD" and not leaf.rdd().isCheckpointed()
    ]


def test_pinned_query_plans_hold_no_rdd(spark):
    """Seeds pinned by a driver constant reach the plan as a
    LocalRelation, never as a Python RDD."""
    from triplestore_spark.operators.bgp import property_path
    from triplestore_spark.operators.graph_algos import bfs_distances
    from triplestore_spark.operators.tree import Tree

    g = _chain_graph(spark)
    edges = g.df.select(
        F.col("subject").alias("src"), F.col("object_value").alias("dst")
    )
    frames = {
        "property_path": property_path(g, ["p{2}"], start="n0"),
        "descendants": Tree(g, "p").descendants("n0"),
        "bfs_distances": bfs_distances(edges, ["n0"]),
    }
    listed = spark.createDataFrame([("n0",)], "node string")
    assert _python_rdd_leaves(listed), "the check must see a Python RDD"
    for name, df in frames.items():
        assert not _python_rdd_leaves(df), name
    assert [r[0] for r in frames["property_path"].collect()] == ["<n2>"]
    assert sorted(r["node"] for r in frames["descendants"].collect()) == [
        "n0", "n1", "n2", "n3"
    ]
    assert sorted(
        (r["node"], r["dist"]) for r in frames["bfs_distances"].collect()
    ) == [("n0", 0), ("n1", 1), ("n2", 2), ("n3", 3)]


def test_package_builds_frames_only_through_local_frame():
    """A list handed to createDataFrame plans as a Python RDD; keep the
    package's single createDataFrame call inside local_frame."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "triplestore_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        in_helper = False
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if re.match(r"def \w+", line):
                in_helper = line.startswith("def local_frame(")
            if "createDataFrame(" in line and not (
                in_helper and path.name == "session.py"
            ):
                hits.append(f"{path.relative_to(pkg)}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)
