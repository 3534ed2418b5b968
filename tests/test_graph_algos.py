"""Triangle counting + PageRank differentials: Spark vs a DuckDB
3-way self-join oracle (exact integers) and an independent dense
NumPy power iteration (same math, no Spark), plus closed-form
invariants on known graphs."""

import random

import numpy as np
import pytest

from triplestore_spark import schema as S
from triplestore_spark.operators.graph import RDFGraph
from triplestore_spark.operators.graph_algos import (
    connected_components,
    degree_stats,
    edge_view,
    pagerank,
    triangle_count,
)

from oracles import union_find_components


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


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


def _numpy_pagerank(pairs, damping=0.85, iterations=20):
    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for a, _ in pairs:
        out[idx[a]] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        inflow = np.zeros(n)
        for a, b in pairs:
            inflow[idx[b]] += rank[idx[a]] / out[idx[a]]
        dangling = rank[out == 0].sum()
        rank = (1 - damping) / n + damping * (dangling / n + inflow)
    return dict(zip(nodes, rank))


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


def test_degree_stats(spark):
    pairs = [("a", "b"), ("a", "c"), ("b", "c")]
    got = {
        r["node"]: (r["out_degree"], r["in_degree"], r["degree"])
        for r in degree_stats(_edges_df(spark, pairs)).collect()
    }
    assert got == {"a": (2, 0, 2), "b": (1, 1, 2), "c": (0, 2, 2)}


def test_pagerank_cycle_is_uniform(spark):
    """On a directed cycle every node has rank exactly 1/n at every
    iteration — closed form."""
    n = 6
    pairs = [(f"c{i}", f"c{(i + 1) % n}") for i in range(n)]
    ranks = {
        r["node"]: r["rank"]
        for r in pagerank(_edges_df(spark, pairs), iterations=7).collect()
    }
    for v in ranks.values():
        assert v == pytest.approx(1.0 / n, abs=1e-12)


def test_pagerank_mass_conserved_with_dangling(spark):
    """Dangling nodes redistribute uniformly: total mass stays 1."""
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("d", "a")]
    # c is dangling (no out-edges)
    df = pagerank(_edges_df(spark, pairs), iterations=9)
    total = sum(r["rank"] for r in df.collect())
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_vs_numpy(spark):
    """Seeded random digraph: Spark == independent dense NumPy power
    iteration to 1e-9 (same math, no Spark)."""
    rng = random.Random(7)
    pairs = sorted(
        {
            (f"v{rng.randrange(18)}", f"v{rng.randrange(18)}")
            for _ in range(70)
        }
    )
    pairs = [(a, b) for a, b in pairs if a != b]
    want = _numpy_pagerank(pairs)
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_edges_df(spark, pairs)).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k


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
        got = {
            r["node"]: r["component"]
            for r in connected_components(_edges_df(spark, pairs)).collect()
        }
        assert got == want, round_i


def test_connected_components_chain(spark):
    """A 40-node chain (the label-propagation worst case) resolves to
    one component labeled by the min node in few star rounds."""
    pairs = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(39)]
    stats = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            _edges_df(spark, pairs), stats=stats
        ).collect()
    }
    assert set(got.values()) == {"c00"} and len(got) == 40
    assert stats["converged"] and stats["rounds"] <= 12


def test_pagerank_validations(spark):
    with pytest.raises(ValueError, match="iterations"):
        pagerank(_edges_df(spark, [("a", "b")]), iterations=0)
    empty = _edges_df(spark, []).where("src <> src")
    assert pagerank(empty, iterations=3).count() == 0


def _py_kcore(pairs, k):
    adj: dict[str, set] = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, s in adj.items() if len(s) < k]:
            for p in adj.pop(n):
                adj[p].discard(n)
            changed = True
    return set(adj)


def test_k_core_known_and_random(spark):
    """K4 plus a pendant chain: the 3-core is exactly the K4; seeded
    random graphs match an independent pure-python peeling."""
    from triplestore_spark.operators.graph_algos import k_core

    k4 = [(f"k{i}", f"k{j}") for i in range(4) for j in range(4) if i < j]
    chain = [("k0", "p1"), ("p1", "p2")]
    got = {
        r["node"]
        for r in k_core(_edges_df(spark, k4 + chain), 3).collect()
    }
    assert got == {"k0", "k1", "k2", "k3"}
    rng = random.Random(13)
    for round_i in range(2):
        pairs = sorted(
            {
                (f"v{rng.randrange(18)}", f"v{rng.randrange(18)}")
                for _ in range(45)
            }
        )
        pairs = [(a, b) for a, b in pairs if a != b]
        for k in (2, 3):
            got = {
                r["node"]
                for r in k_core(_edges_df(spark, pairs), k).collect()
            }
            assert got == _py_kcore(pairs, k), (round_i, k)


def _py_link_scores(pairs):
    import math

    adj: dict[str, set] = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    out = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b in adj[a]:
                continue
            common = adj[a] & adj[b]
            if not common:
                continue
            cn = len(common)
            out[(a, b)] = (
                cn,
                cn / (len(adj[a]) + len(adj[b]) - cn),
                sum(1.0 / math.log(len(adj[m])) for m in common),
            )
    return out


def test_link_prediction_vs_python(spark):
    """Seeded random graphs: (pair set, all three metrics) match an
    independent pure-python computation to 1e-12."""
    from triplestore_spark.operators.graph_algos import (
        link_prediction_scores,
    )

    rng = random.Random(23)
    for round_i in range(2):
        pairs = sorted(
            {
                (f"v{rng.randrange(14)}", f"v{rng.randrange(14)}")
                for _ in range(40)
            }
        )
        pairs = [(a, b) for a, b in pairs if a != b]
        want = _py_link_scores(pairs)
        got = {
            (r["a"], r["b"]): (
                r["common_neighbors"],
                r["jaccard"],
                r["adamic_adar"],
            )
            for r in link_prediction_scores(
                _edges_df(spark, pairs)
            ).collect()
        }
        assert set(got) == set(want), round_i
        for key in want:
            assert got[key][0] == want[key][0], key
            assert got[key][1] == pytest.approx(want[key][1], abs=1e-12)
            assert got[key][2] == pytest.approx(want[key][2], abs=1e-12)


def test_link_prediction_excludes_existing_edges(spark):
    """A triangle has no candidate pairs (all pairs are edges); a
    path a-m-b yields exactly (a, b)."""
    from triplestore_spark.operators.graph_algos import (
        link_prediction_scores,
    )

    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    assert link_prediction_scores(_edges_df(spark, tri)).count() == 0
    path = [("a", "m"), ("m", "b")]
    rows = link_prediction_scores(_edges_df(spark, path)).collect()
    assert len(rows) == 1 and (rows[0]["a"], rows[0]["b"]) == ("a", "b")
    assert rows[0]["common_neighbors"] == 1
    assert rows[0]["jaccard"] == pytest.approx(1.0)


def test_k_core_validations(spark):
    from triplestore_spark.operators.graph_algos import k_core

    with pytest.raises(ValueError, match="k must be"):
        k_core(_edges_df(spark, [("a", "b")]), 0)


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
