"""Edge-view analytics differentials: triangles vs a DuckDB 3-way
self-join oracle (exact integers), components vs a union-find, BFS
vs a queue BFS, plus closed-form cases on known graphs."""

import random

import pytest

from triplestore_spark import schema as S
from triplestore_spark.operators.dedup import connected_components_star
from triplestore_spark.operators.graph import RDFGraph
from triplestore_spark.operators.graph_algos import edge_view, triangle_count

from oracles import union_find_components


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _components(edges, **kw):
    """{node: component} of an edge view through the dedup CC:
    direction ignored, self-loops dropped."""
    pairs = edges.where("src <> dst").selectExpr(
        "src AS doc_a", "dst AS doc_b"
    )
    return {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_star(pairs, **kw).collect()
    }


def _duck_triangles(pairs):
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("edges", pd.DataFrame(pairs, columns=["src", "dst"]))
    total = con.execute(
        """
        WITH und AS (
          SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
          FROM edges WHERE src <> dst
        )
        SELECT count(*) FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        """
    ).fetchone()[0]
    per_node = dict(
        con.execute(
            """
            WITH und AS (
              SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
              FROM edges WHERE src <> dst
            ),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM und e1
              JOIN und e2 ON e1.b = e2.a
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            )
            SELECT node, count(*) FROM tri,
                   unnest([x, y, z]) AS t(node)
            GROUP BY node
            """
        ).fetchall()
    )
    return total, per_node


def test_triangles_complete_k5(spark):
    """K5: C(5,3)=10 triangles, every node in C(4,2)=6."""
    pairs = [
        (f"n{i}", f"n{j}") for i in range(5) for j in range(5) if i < j
    ]
    got = triangle_count(_edges_df(spark, pairs)).first()[0]
    assert got == 10
    per = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(
            _edges_df(spark, pairs), per_node=True
        ).collect()
    }
    assert per == {f"n{i}": 6 for i in range(5)}


def test_triangles_star_and_self_loops(spark):
    """A star has no triangles; self-loops and duplicate/reverse
    edges must not create any."""
    pairs = [("hub", f"s{i}") for i in range(6)]
    pairs += [("s0", "hub"), ("hub", "hub"), ("hub", "s1")]
    assert triangle_count(_edges_df(spark, pairs)).first()[0] == 0


def test_triangles_random_vs_duckdb(spark):
    """Seeded G(n,p) digraphs (with dups/reverses): Spark == DuckDB
    3-way self-join, global and per-node."""
    rng = random.Random(42)
    for round_i in range(3):
        pairs = []
        n = 25
        for i in range(n):
            for j in range(n):
                if i != j and rng.random() < 0.12:
                    pairs.append((f"v{i}", f"v{j}"))
        want_total, want_per = _duck_triangles(pairs)
        df = _edges_df(spark, pairs)
        assert triangle_count(df).first()[0] == want_total, round_i
        got_per = {
            r["node"]: r["n_triangles"]
            for r in triangle_count(df, per_node=True).collect()
        }
        assert got_per == want_per, round_i


def test_edge_view_from_graph(spark):
    """edge_view filters predicate + resource objects out of the
    canonical triple table (literals excluded)."""
    rows = [
        ("a", False, "kg:linksTo", "res", "b", "", ""),
        ("b", False, "kg:linksTo", "res", "c", "", ""),
        ("a", False, "kg:linksTo", "lit", "not-a-node", "xsd:string", ""),
        ("a", False, "kg:name", "res", "b", "", ""),
    ]
    g = RDFGraph(spark.createDataFrame(rows, S.TRIPLE_SCHEMA), cache=False)
    got = sorted(tuple(r) for r in edge_view(g, "kg:linksTo").collect())
    assert got == [("a", "b"), ("b", "c")]


def test_connected_components_vs_union_find(spark):
    """Seeded random digraphs (direction ignored, self-loops dropped):
    component = min node id, matching an independent union-find."""
    rng = random.Random(99)
    for round_i in range(3):
        pairs = sorted(
            {
                (f"v{rng.randrange(30)}", f"v{rng.randrange(30)}")
                for _ in range(25)
            }
        )
        want = union_find_components(pairs)
        assert _components(_edges_df(spark, pairs)) == want, round_i


def test_connected_components_chain(spark):
    """A 40-node chain (the label-propagation worst case) resolves to
    one component labeled by the min node in few star rounds."""
    pairs = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(39)]
    stats = {}
    got = _components(_edges_df(spark, pairs), stats=stats)
    assert set(got.values()) == {"c00"} and len(got) == 40
    assert stats["converged"] and stats["rounds"] <= 12


def _py_bfs(pairs, seeds, direction, max_depth):
    from collections import deque

    adj: dict[str, set] = {}
    for a, b in pairs:
        if direction in ("out", "both"):
            adj.setdefault(a, set()).add(b)
        if direction in ("in", "both"):
            adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        v = q.popleft()
        if dist[v] >= max_depth:
            continue
        for w in adj.get(v, ()):
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    return dist


def test_bfs_distances_vs_python(spark):
    """Seeded random digraphs x all three directions: exact (node,
    dist) map equality with an independent queue BFS."""
    from triplestore_spark.operators.graph_algos import bfs_distances

    rng = random.Random(31)
    pairs = sorted(
        {
            (f"v{rng.randrange(22)}", f"v{rng.randrange(22)}")
            for _ in range(50)
        }
    )
    pairs = [(a, b) for a, b in pairs if a != b]
    seeds = ["v0", "v7"]
    for direction in ("out", "in", "both"):
        got = {
            r["node"]: r["dist"]
            for r in bfs_distances(
                _edges_df(spark, pairs), seeds, direction=direction
            ).collect()
        }
        want = _py_bfs(pairs, seeds, direction, 20)
        assert got == want, direction


def test_bfs_distances_depth_cap_and_cycle(spark):
    """A directed cycle: distances wrap without revisiting (BFS min);
    max_depth truncates the reach."""
    from triplestore_spark.operators.graph_algos import bfs_distances

    n = 8
    pairs = [(f"c{i}", f"c{(i + 1) % n}") for i in range(n)]
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(_edges_df(spark, pairs), ["c0"]).collect()
    }
    assert got == {f"c{i}": i for i in range(n)}
    capped = bfs_distances(_edges_df(spark, pairs), ["c0"], max_depth=3)
    assert capped.count() == 4  # c0..c3
    with pytest.raises(ValueError, match="direction"):
        bfs_distances(_edges_df(spark, pairs), ["c0"], direction="up")
