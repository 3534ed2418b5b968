"""BGP matching + property paths: Spark==DuckDB differentials.

The DataFrame plan (operators/bgp.bgp_match) and the generated ANSI
self-join SQL (bgp_match_sql) are structurally independent renderings
of the same semantics; DuckDB executes the SQL as the oracle, exactly
the filter_documents / chunk_documents evidence pattern.
"""

import random

import pytest
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.dsl import Obj
from triplestore_spark.operators.bgp import (
    bgp_match,
    bgp_match_sql,
    property_path,
    strip_node_key,
)
from triplestore_spark.operators.graph import RDFGraph


def _duck(rows):
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register(
        "triples", pd.DataFrame(rows, columns=S.TRIPLE_FIELDS)
    )
    return con


def _spark_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _duck_rows(con, sql):
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


# -- hand graph: docs mention entities, entities typed, one bnode ----

HAND = [
    ("doc:1", False, "kg:mentions", "res", "e:spark", "", ""),
    ("doc:1", False, "kg:source", "res", "src:web", "", ""),
    ("doc:2", False, "kg:mentions", "res", "e:spark", "", ""),
    ("doc:2", False, "kg:mentions", "res", "e:duck", "", ""),
    ("doc:2", False, "kg:source", "res", "src:book", "", ""),
    ("doc:3", False, "kg:mentions", "res", "e:duck", "", ""),
    ("e:spark", False, "rdf:type", "res", "kg:Engine", "", ""),
    ("e:duck", False, "rdf:type", "res", "kg:Engine", "", ""),
    ("e:spark", False, "kg:name", "lit", "Spark", "xsd:string", ""),
    ("e:spark", False, "kg:name", "lit", "Etincelle", "", "fr"),
    ("b0", True, "kg:mentions", "res", "e:spark", "", ""),
    ("b0", True, "rdf:type", "res", "kg:Draft", "", ""),
]


@pytest.fixture(scope="module")
def hand_graph(spark):
    return RDFGraph(
        spark.createDataFrame(HAND, S.TRIPLE_SCHEMA), cache=False
    )


def test_bgp_two_hop_join(hand_graph):
    """?d mentions ?e . ?e rdf:type kg:Engine — the canonical
    conjunctive query; exact expected set plus the DuckDB twin."""
    pats = [
        ("?d", "kg:mentions", "?e"),
        ("?e", "rdf:type", "kg:Engine"),
    ]
    got = _spark_rows(bgp_match(hand_graph, pats))
    assert got == [
        ("<doc:1>", "<e:spark>"),
        ("<doc:2>", "<e:duck>"),
        ("<doc:2>", "<e:spark>"),
        ("<doc:3>", "<e:duck>"),
        ("_:b0", "<e:spark>"),
    ]
    con = _duck(HAND)
    assert got == _duck_rows(con, bgp_match_sql(pats))


def test_bgp_object_literal_and_lang_identity(hand_graph):
    """Literal constants: typed literal matches on (value, type); a
    lang-tagged constant ignores the datatype (okey identity rule)."""
    got = _spark_rows(
        bgp_match(
            hand_graph,
            [("?e", "kg:name", Obj("lit", "Spark", "xsd:string", ""))],
        )
    )
    assert got == [("<e:spark>",)]
    # lang-tagged: type omitted from identity
    got = _spark_rows(
        bgp_match(
            hand_graph,
            [("?e", "kg:name", Obj("lit", "Etincelle", "IGNORED", "fr"))],
        )
    )
    assert got == [("<e:spark>",)]


def test_bgp_predicate_variable_and_gate(hand_graph):
    """Predicate variable enumerates edges; a constant-only pattern is
    an existence gate (present -> no-op, absent -> empty)."""
    pats = [("doc:2", "?p", "?o")]
    got = _spark_rows(bgp_match(hand_graph, pats))
    con = _duck(HAND)
    assert got == _duck_rows(con, bgp_match_sql(pats))
    assert ("<kg:mentions>", "<e:duck>") in got

    present = [
        ("?d", "kg:mentions", "?e"),
        ("e:spark", "rdf:type", "kg:Engine"),
    ]
    absent = [
        ("?d", "kg:mentions", "?e"),
        ("e:spark", "rdf:type", "kg:Banana"),
    ]
    base = _spark_rows(bgp_match(hand_graph, [("?d", "kg:mentions", "?e")]))
    assert _spark_rows(bgp_match(hand_graph, present)) == base
    assert _spark_rows(bgp_match(hand_graph, absent)) == []
    assert base == _duck_rows(con, bgp_match_sql(present))
    assert [] == _duck_rows(con, bgp_match_sql(absent))


def test_bgp_disconnected_refused(hand_graph):
    pats = [("?a", "kg:mentions", "?b"), ("?x", "rdf:type", "?y")]
    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(hand_graph, pats)
    prod = bgp_match(hand_graph, pats, allow_product=True)
    n_mentions = 5  # 4 doc mentions + bnode mention
    n_types = 3
    assert prod.count() == n_mentions * n_types


def test_strip_node_key(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("<e:spark>",), ("_:b0",), ('"Spark"^^<xsd:string>',)], "k string"
    )
    got = [r[0] for r in df.select(strip_node_key("k")).collect()]
    assert got == ["e:spark", "b0", '"Spark"^^<xsd:string>']


def _random_rows(seed, n=400):
    """Dense little graph: resource objects reuse the subject id space
    so multi-hop joins actually hit; literals/bnodes mixed in."""
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        if rng.random() < 0.15:
            subj, isb = f"b{rng.randrange(6)}", True
        else:
            subj, isb = f"e{rng.randrange(12)}", False
        pred = f"p{rng.randrange(4)}"
        r = rng.random()
        if r < 0.55:
            obj = ("res", f"e{rng.randrange(12)}", "", "")
        elif r < 0.7:
            obj = ("bnode", f"b{rng.randrange(6)}", "", "")
        elif r < 0.85:
            obj = ("lit", f"w{rng.randrange(8)}", "xsd:string", "")
        else:
            obj = ("lit", f"w{rng.randrange(8)}", "", "en")
        rows.append((subj, isb, pred) + obj)
    return sorted(set(rows))


PATTERN_SETS = [
    [("?x", "p0", "?y"), ("?y", "p1", "?z")],  # chain (obj->subj join)
    [("?x", "p0", "?y"), ("?x", "p1", "?z")],  # star
    [("?x", "?p", "?y")],  # predicate variable
    [("?x", "p2", Obj("lit", "w3", "xsd:string", ""))],  # literal const
    [("?x", "p0", "?x")],  # intra-pattern repeated var (self-loop)
    [
        ("?x", "p0", "?y"),
        ("?y", "p1", "?z"),
        ("?z", "p2", "?w"),
        ("?x", "p3", "?w"),  # cycle: two shared vars at the last join
    ],
]


@pytest.mark.parametrize("seed", [7, 23])
def test_bgp_randomized_differential(spark, seed):
    rows = _random_rows(seed)
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    sizes = []
    for pats in PATTERN_SETS:
        for distinct in (True, False):
            a = _spark_rows(bgp_match(g, pats, distinct=distinct))
            b = _duck_rows(con, bgp_match_sql(pats, distinct=distinct))
            assert a == b, (pats, distinct)
        sizes.append(len(a))
    # chain, star, pred-var and the 4-pattern cycle must be non-vacuous
    assert sizes[0] > 0 and sizes[1] > 0 and sizes[2] > 0 and sizes[5] > 0


def test_property_path_differential(spark):
    rows = _random_rows(11)
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    got = _spark_rows(property_path(g, ["p0", "p1"]))
    sql = bgp_match_sql(
        [("?src", "p0", "?h0"), ("?h0", "p1", "?dst")], distinct=False
    )
    want = _duck_rows(con, f"SELECT DISTINCT src, dst FROM ({sql})")
    assert got == want and len(got) > 0
    # pinned start: subset of the unpinned result with that src
    some_src = next(s for s, _ in want if s.startswith("<"))
    pinned = _spark_rows(
        property_path(g, ["p0", "p1"], start=some_src[1:-1])
    )
    assert pinned == sorted({(d,) for s, d in want if s == some_src})


def test_property_path_one_hop_matches_tree_edges(hand_graph):
    """1-hop path over a resource predicate == the Tree edge view
    (modulo node-key rendering)."""
    from triplestore_spark.operators.tree import Tree

    edges = sorted(
        (f"<{r['parent']}>", f"<{r['child']}>")
        for r in Tree(hand_graph, "rdf:type").edges().collect()
        if True
    )
    # tree edges include the bnode subject rendered raw; re-render
    edges = sorted(
        (
            ("_:" + p[1:-1]) if p == "<b0>" else p,
            c,
        )
        for p, c in edges
    )
    got = _spark_rows(property_path(hand_graph, ["rdf:type"]))
    assert got == edges


def test_bgp_pushdown_on_parquet_layout(spark, tmp_path):
    """A constant-subject pattern over a parquet-backed layout reaches
    the scan as a PushedFilter — the WithX lookups' scale contract
    extends to BGP scans."""
    path = str(tmp_path / "triples")
    spark.createDataFrame(HAND, S.TRIPLE_SCHEMA).write.parquet(path)
    g = spark.read.parquet(path)
    df = bgp_match(g, [("doc:2", "kg:mentions", "?e")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "subject" in pushed and "predicate" in pushed


# -- OPTIONAL groups (SPARQL left-join semantics) --------------------


def _rows_nullsafe(rows):
    return sorted(
        tuple("" if v is None else v for v in r) for r in rows
    )


def test_bgp_optional_hand_exact(hand_graph):
    """?d mentions ?e OPTIONAL { ?d source ?s }: docs without a source
    keep their mention rows with a null binding."""
    got = _rows_nullsafe(
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e")],
            optional=[[("?d", "kg:source", "?s")]],
        ).collect()
    )
    assert got == [
        ("<doc:1>", "<e:spark>", "<src:web>"),
        ("<doc:2>", "<e:duck>", "<src:book>"),
        ("<doc:2>", "<e:spark>", "<src:book>"),
        ("<doc:3>", "<e:duck>", ""),
        ("_:b0", "<e:spark>", ""),
    ]
    con = _duck(HAND)
    want = _rows_nullsafe(
        con.execute(
            bgp_match_sql(
                [("?d", "kg:mentions", "?e")],
                optional=[[("?d", "kg:source", "?s")]],
            )
        ).fetchall()
    )
    assert got == want


def test_bgp_optional_multiplies_and_nulls(hand_graph):
    """An optional group with multiple matches multiplies rows (bag
    semantics under distinct=False); zero matches null-fills. e:spark
    carries two kg:name literals, e:duck none."""
    got = _rows_nullsafe(
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e")],
            optional=[[("?e", "kg:name", "?n")]],
            distinct=False,
        ).collect()
    )
    con = _duck(HAND)
    want = _rows_nullsafe(
        con.execute(
            bgp_match_sql(
                [("?d", "kg:mentions", "?e")],
                optional=[[("?e", "kg:name", "?n")]],
                distinct=False,
            )
        ).fetchall()
    )
    assert got == want
    spark_names = {r for r in got if r[1] == "<e:spark>"}
    assert len({n for _, _, n in spark_names if n}) == 2
    assert any(n == "" for _, e, n in got if e == "<e:duck>")


def test_bgp_optional_two_groups_differential(hand_graph):
    got = _rows_nullsafe(
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e")],
            optional=[
                [("?d", "kg:source", "?s")],
                [("?e", "rdf:type", "?t")],
            ],
        ).collect()
    )
    con = _duck(HAND)
    want = _rows_nullsafe(
        con.execute(
            bgp_match_sql(
                [("?d", "kg:mentions", "?e")],
                optional=[
                    [("?d", "kg:source", "?s")],
                    [("?e", "rdf:type", "?t")],
                ],
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_bgp_optional_not_well_designed_refused(hand_graph):
    """Both compilers refuse the same ill-designed shapes: a group
    sharing no variable with the required part, and a new variable
    reused across groups."""
    with pytest.raises(ValueError, match="shares no variable"):
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e")],
            optional=[[("?q", "rdf:type", "?t")]],
        )
    with pytest.raises(ValueError, match="shares no variable"):
        bgp_match_sql(
            [("?d", "kg:mentions", "?e")],
            optional=[[("?q", "rdf:type", "?t")]],
        )
    bad = [
        [("?e", "kg:name", "?n")],
        [("?d", "kg:source", "?n")],
    ]
    with pytest.raises(ValueError, match="reuses variables"):
        bgp_match(hand_graph, [("?d", "kg:mentions", "?e")], optional=bad)
    with pytest.raises(ValueError, match="reuses variables"):
        bgp_match_sql([("?d", "kg:mentions", "?e")], optional=bad)


@pytest.mark.parametrize("seed", [5, 41])
def test_bgp_optional_randomized_differential(spark, seed):
    rows = _random_rows(seed)
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    req = [("?x", "p0", "?y")]
    optional = [[("?y", "p1", "?z")], [("?x", "p2", "?w")]]
    for distinct in (True, False):
        a = _rows_nullsafe(
            bgp_match(g, req, optional=optional, distinct=distinct).collect()
        )
        b = _rows_nullsafe(
            con.execute(
                bgp_match_sql(req, optional=optional, distinct=distinct)
            ).fetchall()
        )
        assert a == b, (seed, distinct)
    assert len(a) > 0
    # some row must actually exercise the null path
    assert any(v == "" for r in a for v in r)


# -- anti groups (FILTER NOT EXISTS) ---------------------------------


def test_bgp_anti_hand_exact(hand_graph):
    """?d mentions ?e MINUS { ?e rdf:type kg:Engine }: only mentions
    of non-Engine entities survive (none of the typed ones)."""
    got = _spark_rows(
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e")],
            anti=[[("?e", "rdf:type", "kg:Engine")]],
        )
    )
    assert got == []  # every mentioned entity is typed kg:Engine
    # anti on a narrower class keeps the others
    got = _spark_rows(
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e")],
            anti=[[("?d", "kg:source", "src:web")]],
        )
    )
    con = _duck(HAND)
    want = _duck_rows(
        con,
        bgp_match_sql(
            [("?d", "kg:mentions", "?e")],
            anti=[[("?d", "kg:source", "src:web")]],
        ),
    )
    assert got == want
    assert ("<doc:1>", "<e:spark>") not in got  # doc:1 is src:web
    assert ("<doc:3>", "<e:duck>") in got


def test_bgp_anti_not_well_designed_refused(hand_graph):
    with pytest.raises(ValueError, match="anti group 0 shares no"):
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e")],
            anti=[[("?q", "rdf:type", "?t")]],
        )
    with pytest.raises(ValueError, match="anti group 0 shares no"):
        bgp_match_sql(
            [("?d", "kg:mentions", "?e")],
            anti=[[("?q", "rdf:type", "?t")]],
        )


@pytest.mark.parametrize("seed", [13, 29])
def test_bgp_anti_optional_randomized_differential(spark, seed):
    """required -> anti -> optional composed, Spark == DuckDB."""
    rows = _random_rows(seed)
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    req = [("?x", "p0", "?y")]
    anti = [[("?y", "p3", "?v")]]
    optional = [[("?x", "p2", "?w")]]
    for distinct in (True, False):
        a = _rows_nullsafe(
            bgp_match(
                g, req, anti=anti, optional=optional, distinct=distinct
            ).collect()
        )
        b = _rows_nullsafe(
            con.execute(
                bgp_match_sql(
                    req, anti=anti, optional=optional, distinct=distinct
                )
            ).fetchall()
        )
        assert a == b, (seed, distinct)
    plain = bgp_match(g, req).count()
    kept = bgp_match(g, req, anti=anti).count()
    assert 0 < kept < plain  # the anti group actually bites


# -- exists groups (FILTER EXISTS) -----------------------------------


def test_bgp_exists_hand_exact(hand_graph):
    """?d mentions ?e FILTER EXISTS { ?d kg:source src:web }: only
    mentions from web-sourced docs survive — and a doc with several
    witnesses in the group is NOT duplicated (semi-join)."""
    got = _spark_rows(
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e")],
            exists=[[("?d", "kg:source", "src:web")]],
        )
    )
    assert got == [("<doc:1>", "<e:spark>")]
    con = _duck(HAND)
    want = _duck_rows(
        con,
        bgp_match_sql(
            [("?d", "kg:mentions", "?e")],
            exists=[[("?d", "kg:source", "src:web")]],
        ),
    )
    assert got == want
    # multi-witness no-duplication: ?d mentions ?e EXISTS { ?d
    # kg:mentions ?x } — doc:2 has TWO witnesses (spark, duck) but
    # each of its solutions appears once, bag semantics included
    bag = bgp_match(
        hand_graph,
        [("?d", "kg:mentions", "?e")],
        exists=[[("?d", "kg:mentions", "?x")]],
        distinct=False,
    )
    plain = bgp_match(
        hand_graph, [("?d", "kg:mentions", "?e")], distinct=False
    )
    assert _spark_rows(bag) == _spark_rows(plain)


def test_bgp_exists_not_well_designed_refused(hand_graph):
    with pytest.raises(ValueError, match="exists group 0 shares no"):
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e")],
            exists=[[("?q", "rdf:type", "?t")]],
        )
    with pytest.raises(ValueError, match="exists group 0 shares no"):
        bgp_match_sql(
            [("?d", "kg:mentions", "?e")],
            exists=[[("?q", "rdf:type", "?t")]],
        )


@pytest.mark.parametrize("seed", [13, 29])
def test_bgp_exists_randomized_differential(spark, seed):
    """exists ∪ anti on the SAME group partition the required bag
    exactly, and the composed exists+anti+optional plan == DuckDB."""
    rows = _random_rows(seed)
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    req = [("?x", "p0", "?y")]
    grp = [[("?y", "p3", "?v")]]
    optional = [[("?x", "p2", "?w")]]
    for distinct in (True, False):
        a = _rows_nullsafe(
            bgp_match(
                g, req, exists=grp, anti=[[("?x", "p1", "?u")]],
                optional=optional, distinct=distinct,
            ).collect()
        )
        b = _rows_nullsafe(
            con.execute(
                bgp_match_sql(
                    req, exists=grp, anti=[[("?x", "p1", "?u")]],
                    optional=optional, distinct=distinct,
                )
            ).fetchall()
        )
        assert a == b, (seed, distinct)
    plain = bgp_match(g, req, distinct=False).count()
    semi = bgp_match(g, req, exists=grp, distinct=False).count()
    anti = bgp_match(g, req, anti=grp, distinct=False).count()
    assert semi + anti == plain  # exact complement, bag semantics
    assert 0 < semi < plain  # the group actually bites both ways


# -- parse_bgp string front-end (pure python) ------------------------


def test_parse_bgp_terms():
    from triplestore_spark.operators.bgp import parse_bgp

    assert parse_bgp("?d kg:mentions ?e . ?d kg:source src:web") == [
        ("?d", "kg:mentions", "?e"),
        ("?d", "kg:source", "src:web"),
    ]
    pats = parse_bgp(
        '?e kg:name "hello world"@fr . '
        '?e kg:size "42"^^xsd:integer . ?e rdf:sameAs _:b7 .'
    )
    assert pats[0][2] == Obj("lit", "hello world", "", "fr")
    assert pats[1][2] == Obj("lit", "42", "xsd:integer", "")
    assert pats[2][2] == Obj("bnode", "b7")
    # quoted literals may hold spaces, dots, escaped quotes
    [(_, _, o)] = parse_bgp('?e kg:name "a \\"quoted\\" . dot"')
    assert o == Obj("lit", 'a "quoted" . dot', "xsd:string", "")


def test_parse_bgp_refusals():
    from triplestore_spark.operators.bgp import parse_bgp

    for bad in ["?a ?b", '"lit" kg:p ?x', "?a _:b ?c", "?a kg:p"]:
        with pytest.raises(ValueError):
            parse_bgp(bad)


def test_parse_bgp_feeds_bgp_match(hand_graph):
    from triplestore_spark.operators.bgp import parse_bgp

    pats = parse_bgp("?d kg:mentions ?e . ?e rdf:type kg:Engine")
    got = _spark_rows(bgp_match(hand_graph, pats))
    want = _spark_rows(
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?e"), ("?e", "rdf:type", "kg:Engine")],
        )
    )
    assert got == want and len(got) == 5


def test_bgp_match_accepts_pattern_strings(hand_graph):
    got = _spark_rows(
        bgp_match(hand_graph, "?d kg:mentions ?e . ?e rdf:type kg:Engine")
    )
    want = _duck_rows(
        _duck(HAND),
        bgp_match_sql(
            "?d kg:mentions ?e . ?e rdf:type kg:Engine",
            anti=None,
        ),
    )
    assert got == want and len(got) == 5
    # string groups for optional/anti too
    a = _rows_nullsafe(
        bgp_match(
            hand_graph,
            "?d kg:mentions ?e",
            optional=["?d kg:source ?s"],
            anti=["?e rdf:type kg:Draft"],
        ).collect()
    )
    b = _rows_nullsafe(
        _duck(HAND).execute(
            bgp_match_sql(
                "?d kg:mentions ?e",
                optional=["?d kg:source ?s"],
                anti=["?e rdf:type kg:Draft"],
            )
        ).fetchall()
    )
    assert a == b and len(a) > 0


def test_bgp_routes_patterns_to_best_layout(spark, tmp_path):
    """Over a MaterializedGraph every pattern scans the layout whose
    sort prefix matches its constants: the executed plan must read
    the spo path for the constant-subject pattern, pos for the
    constant-predicate one, and osp for the constant-object one."""
    from triplestore_spark.operators.materialize import (
        MaterializedGraph,
        materialize_graph,
    )

    path = str(tmp_path / "mat")
    materialize_graph(
        spark.createDataFrame(HAND, S.TRIPLE_SCHEMA), path,
        num_partitions=2,
    )
    g = MaterializedGraph(spark, path)
    df = bgp_match(
        g,
        [
            ("doc:2", "?p", "?e"),              # subject const -> spo
            ("?e", "rdf:type", "?t"),           # predicate const -> pos
            ("?e", "?p2", Obj("res", "kg:Engine")),  # object const -> osp
        ],
    )
    files = "\n".join(df.inputFiles())
    for layout in ("spo", "pos", "osp"):
        assert f"/{layout}/" in files, layout
    # and the semantics are unchanged vs the plain in-memory graph
    flat = RDFGraph(
        spark.createDataFrame(HAND, S.TRIPLE_SCHEMA), cache=False
    )
    want = _spark_rows(
        bgp_match(
            flat,
            [
                ("doc:2", "?p", "?e"),
                ("?e", "rdf:type", "?t"),
                ("?e", "?p2", Obj("res", "kg:Engine")),
            ],
        )
    )
    assert _spark_rows(df) == want and len(want) > 0


# -- property path inverse + alternation -----------------------------


def test_property_path_inverse_comention(hand_graph):
    """doc -mentions/^mentions-> doc: co-mention pairs (docs sharing
    an entity), including self-pairs — vs a DuckDB twin built from
    the equivalent two-pattern BGP."""
    got = _spark_rows(
        property_path(hand_graph, ["kg:mentions", "^kg:mentions"])
    )
    con = _duck(HAND)
    sql = bgp_match_sql(
        [("?src", "kg:mentions", "?m"), ("?dst", "kg:mentions", "?m")],
        distinct=False,
    )
    want = _duck_rows(con, f"SELECT DISTINCT src, dst FROM ({sql})")
    assert got == want and len(got) > 0
    assert ("<doc:1>", "<doc:2>") in got  # both mention e:spark
    assert ("_:b0", "<doc:1>") in got     # bnode doc co-mentions too


@pytest.mark.parametrize("seed", [17, 31])
def test_property_path_alternation_differential(spark, seed):
    """(p0|p1)/p2 == UNION of the two branches' first hops chained
    into p2, bag-exact under distinct=False."""
    rows = _random_rows(seed)
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    for distinct in (True, False):
        got = sorted(
            tuple(r)
            for r in property_path(
                g, ["p0|p1", "p2"], distinct=distinct
            ).collect()
        )
        b0 = bgp_match_sql(
            [("?src", "p0", "?h0"), ("?h0", "p2", "?dst")], distinct=False
        )
        b1 = bgp_match_sql(
            [("?src", "p1", "?h0"), ("?h0", "p2", "?dst")], distinct=False
        )
        kw = "DISTINCT " if distinct else ""
        want = _duck_rows(
            con,
            f"SELECT {kw}src, dst FROM ({b0} UNION ALL {b1})",
        )
        assert got == want, (seed, distinct)
    assert len(got) > 0


def test_property_path_inverse_with_pinned_start(hand_graph):
    """^mentions from a pinned entity: which docs mention it (the
    start constant sits in the OBJECT position of the inverse hop)."""
    got = _spark_rows(
        property_path(hand_graph, ["^kg:mentions"], start="e:duck")
    )
    # start pinned -> only dst projected; e:duck is mentioned by 2, 3
    assert got == [("<doc:2>",), ("<doc:3>",)]


def test_property_path_bad_steps_refused(hand_graph):
    from triplestore_spark.operators.bgp import property_path as pp

    for bad in (["p0", ""], ["p0", "^"], ["?v"], ["p0||p1"]):
        with pytest.raises(ValueError):
            pp(hand_graph, bad)


# -- parse_node_key + bgp_construct ----------------------------------


def test_parse_node_key_roundtrip_nasty_values(spark):
    """parse∘render == identity on adversarial literals: values
    containing quotes, '@', '^^<...>', '>' and unicode — the okey
    grammar keeps the terminal suffix unambiguous (greedy value)."""
    from triplestore_spark.functions.keys import with_keys
    from triplestore_spark.operators.bgp import parse_node_key

    rows = [
        ("s", False, "p", "lit", 'pla"in', "xsd:string", ""),
        ("s", False, "p", "lit", 'a"@en', "xsd:string", ""),
        ("s", False, "p", "lit", 'x"^^<xsd:integer>', "xsd:string", ""),
        ("s", False, "p", "lit", 'q"@de"w', "", "en"),
        ("s", False, "p", "lit", "42", "xsd:integer", ""),
        ("s", False, "p", "lit", "héllo <wörld>", "", "fr"),
        # raw newlines in the value (multi-line document text) —
        # regression for the missing-(?s) silent-corruption bug
        ("s", False, "p", "lit", "line1\nline2\n", "xsd:string", ""),
        ("s", False, "p", "lit", "para\n\nbreak", "", "en"),
        ("s", False, "p", "lit", "tail\n", "xsd:integer", ""),
        ("s", False, "p", "res", "http://x/y?a=b&c=d", "", ""),
        ("s", False, "p", "bnode", "b42", "", ""),
        ("s", False, "p", "lit", "", "xsd:string", ""),
    ]
    df = with_keys(spark.createDataFrame(rows, S.TRIPLE_SCHEMA))
    _, kind, value, typ, lang = parse_node_key("okey")
    back = df.select(
        "object_kind", "object_value", "object_type", "object_lang",
        kind.alias("k"), value.alias("v"), typ.alias("t"), lang.alias("l"),
    )
    for r in back.collect():
        assert r["k"] == r["object_kind"], r
        assert r["v"] == r["object_value"], r
        # lang-tagged okeys omit the datatype by design (identity rule)
        if not r["object_lang"]:
            assert r["t"] == r["object_type"], r
        assert r["l"] == r["object_lang"], r


def test_bgp_construct_comention_edges(hand_graph):
    """CONSTRUCT kg:coMentioned edges from the co-mention BGP; the
    result is canonical keyed triples equal to the DuckDB twin."""
    from triplestore_spark.operators.bgp import bgp_construct

    out = bgp_construct(
        hand_graph,
        [("?a", "kg:mentions", "?m"), ("?b", "kg:mentions", "?m")],
        [("?a", "kg:coMentioned", "?b")],
    )
    got = sorted(
        (r["subject"], bool(r["subject_is_bnode"]), r["predicate"],
         r["object_kind"], r["object_value"])
        for r in out.collect()
    )
    con = _duck(HAND)
    sql = bgp_match_sql(
        [("?a", "kg:mentions", "?m"), ("?b", "kg:mentions", "?m")],
        distinct=False,
    )
    want = sorted(
        set(
            (
                a[1:-1] if a.startswith("<") else a[2:],
                a.startswith("_:"),
                "kg:coMentioned",
                "bnode" if b.startswith("_:") else "res",
                b[1:-1] if b.startswith("<") else b[2:],
            )
            for a, b in con.execute(
                f"SELECT a, b FROM ({sql})"
            ).fetchall()
        )
    )
    assert got == want and len(got) > 0
    # tkeys present and unique (canonical output)
    keys = [r["tkey"] for r in out.select("tkey").collect()]
    assert len(keys) == len(set(keys))


def test_bgp_construct_optional_null_drops_instantiation(hand_graph):
    """A template triple whose variable is null (unmatched OPTIONAL)
    is skipped for that row; the other template triples still fire."""
    from triplestore_spark.operators.bgp import bgp_construct

    out = bgp_construct(
        hand_graph,
        [("?d", "kg:mentions", "?e")],
        [
            ("?d", "kg:entity", "?e"),
            ("?d", "kg:from", "?s"),
        ],
        optional=[[("?d", "kg:source", "?s")]],
    )
    rows = out.collect()
    ents = [r for r in rows if r["predicate"] == "kg:entity"]
    froms = [r for r in rows if r["predicate"] == "kg:from"]
    assert len(ents) == 5          # every mention row
    assert len(froms) == 2         # doc:1->web, doc:2->book only
    assert {r["subject"] for r in froms} == {"doc:1", "doc:2"}


def test_rdfgraph_query_and_describe(hand_graph):
    """RDFGraph.query is the bgp_match front door; describe returns
    every triple touching a node in either role."""
    got = _spark_rows(
        hand_graph.query("?d kg:mentions ?e . ?e rdf:type kg:Engine")
    )
    assert len(got) == 5
    d = hand_graph.describe("e:spark")
    rows = {(r["subject"], r["predicate"]) for r in d.collect()}
    # as subject: rdf:type + two kg:name; as object: three mentions
    assert ("e:spark", "rdf:type") in rows
    assert ("e:spark", "kg:name") in rows
    assert ("doc:1", "kg:mentions") in rows
    assert ("b0", "kg:mentions") in rows
    assert d.count() == 6


# -- Kleene / bounded quantifiers (p*, p+, p{m,n}) --------------------


CYCLE = [
    ("a", False, "p", "res", "b", "", ""),
    ("b", False, "p", "res", "c", "", ""),
    ("c", False, "p", "res", "a", "", ""),   # cycle a->b->c->a
    ("c", False, "p", "res", "d", "", ""),
    ("x", False, "p", "res", "y1", "", ""),  # diamond x->y1/y2->z
    ("x", False, "p", "res", "y2", "", ""),
    ("y1", False, "p", "res", "z", "", ""),
    ("y2", False, "p", "res", "z", "", ""),
    ("d", False, "q", "res", "t", "", ""),
]


@pytest.fixture(scope="module")
def cycle_graph(spark):
    return RDFGraph(
        spark.createDataFrame(CYCLE, S.TRIPLE_SCHEMA), cache=False
    )


def _path_rows(g, path, **kw):
    return _spark_rows(property_path(g, path, **kw))


def test_kleene_closure_on_cycle(cycle_graph):
    """p+ / p* from a root on a CYCLIC graph terminate and give the
    exact reachable set (the anti-join visited set is what makes the
    frontier expansion cycle-safe)."""
    reach = [("<a>",), ("<b>",), ("<c>",), ("<d>",)]
    assert _path_rows(cycle_graph, ["p+"], start="a") == reach
    # p*: zero-hop row adds the root itself (already in via the cycle)
    assert _path_rows(cycle_graph, ["p*"], start="a") == reach
    # diamond: two routes dedup to one pair per destination
    assert _path_rows(cycle_graph, ["p*"], start="x") == [
        ("<x>",), ("<y1>",), ("<y2>",), ("<z>",)
    ]


def test_kleene_bounded_quantifiers(cycle_graph):
    assert _path_rows(cycle_graph, ["p{2}"], start="a") == [("<c>",)]
    assert _path_rows(cycle_graph, ["p{1,2}"], start="a") == [
        ("<b>",), ("<c>",)
    ]
    assert _path_rows(cycle_graph, ["p{0,1}"], start="a") == [
        ("<a>",), ("<b>",)
    ]
    # {2,}: everything 2+ hops out on the cycle (wraps all the way)
    assert _path_rows(cycle_graph, ["p{2,}"], start="a") == [
        ("<a>",), ("<b>",), ("<c>",), ("<d>",)
    ]


@pytest.mark.parametrize("seed", [23, 5, 71])
def test_kleene_differential_vs_recursive_cte(spark, seed):
    """Random graph: Spark frontier closure == DuckDB WITH RECURSIVE
    (property_path_sql) on every quantifier shape, rooted, unrooted
    with a fixed step, and reversed (pinned end). The fixed-step-seeded
    bounded shapes start from many `_a` values at once, so one node is
    reached at different depths from different sources — the case the
    closure's per-pair min-depth merge must keep apart."""
    from triplestore_spark.operators.bgp import property_path_sql

    rows = _random_rows(seed)
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    cases = [
        (["p0+"], {"start": "e1"}),
        (["p0*"], {"start": "e1"}),
        (["p0{1,3}"], {"start": "e1"}),
        (["p0{2}"], {"start": "e1"}),
        (["p0|p1*"], {"start": "e1"}),     # (p0|p1)* — whole step
        (["^p0*"], {"start": "e1"}),       # inverse closure
        (["p0*", "p1"], {}),               # unrooted: reversed walk
        (["p0*"], {"end": "e3"}),          # pinned end only
        (["p1", "p0+"], {"start": "e2"}),  # mid-chain closure
        (["p1", "p0*", "p2"], {}),         # closure between fixed steps
        (["p1", "p0{2,4}"], {}),           # many sources, bounded
        (["p1", "p0{1,}"], {}),            # many sources, lo > 0
        (["p1", "p0{0,2}"], {}),           # many sources, zero-hop rows
    ]
    nonempty = 0
    for path, kw in cases:
        got = _spark_rows(property_path(g, path, **kw))
        sql = property_path_sql(path, **kw)
        want = _duck_rows(con, sql)
        assert got == want, (path, kw)
        nonempty += bool(got)
    assert nonempty >= 8  # the differentials must not be vacuous


def test_kleene_all_pairs_refused(hand_graph):
    with pytest.raises(ValueError, match="closure"):
        property_path(hand_graph, ["kg:mentions*"])
    with pytest.raises(ValueError, match="closure"):
        property_path(hand_graph, ["kg:mentions*", "rdf:type+"])


def test_kleene_bad_quantifiers_refused(hand_graph):
    with pytest.raises(ValueError):
        property_path(hand_graph, ["p{3,2}"], start="a")


def test_kleene_max_depth_raises(spark):
    """A long chain past closure_max_depth raises instead of silently
    truncating the closure; a closure complete at exactly the bound is
    accepted (one confirming level finds nothing new)."""
    rows = [
        (f"n{i}", False, "p", "res", f"n{i+1}", "", "") for i in range(12)
    ]
    g = RDFGraph(spark.createDataFrame(rows, S.TRIPLE_SCHEMA), cache=False)
    with pytest.raises(ValueError, match="closure_max_depth"):
        property_path(g, ["p*"], start="n0", closure_max_depth=4).collect()
    # and a depth that fits succeeds with the full reachable set
    got = _path_rows(g, ["p+"], start="n0", closure_max_depth=16)
    assert len(got) == 12
    # the chain is 12 levels deep: 12 is the exact bound, 11 one short
    got = _path_rows(g, ["p*"], start="n0", closure_max_depth=12)
    assert len(got) == 13
    with pytest.raises(ValueError, match="closure_max_depth"):
        property_path(g, ["p*"], start="n0", closure_max_depth=11).collect()


def test_closure_failed_level_releases_edge_cache(spark):
    """A job that fails inside a closure level must not leave the
    closure's cached edge set behind (only the per-level checkpoint
    blocks stay, which Spark's cleaner drops with their frames)."""
    import gc

    from triplestore_spark.operators.bgp import _closure_pairs

    jsc = spark.sparkContext._jsc

    def persisted():
        gc.collect()
        spark._jvm.System.gc()
        rdds = jsc.getPersistentRDDs()
        return {k: rdds[k].rdd() for k in rdds.keySet()}

    before = set(persisted())
    n = F.col("id")
    # a range, not a LocalRelation: the planted error must fire in the
    # level-1 job, not while the optimizer folds a local projection
    edges = spark.range(3).select(
        F.concat(F.lit("n"), n.cast("string")).alias("_cs"),
        F.when(n == 1, F.raise_error(F.lit("planted level failure")))
        .otherwise(F.concat(F.lit("n"), (n + 1).cast("string")))
        .alias("_cd"),
    )
    seed = spark.range(1).select(F.lit("n0").alias("_n"))
    with pytest.raises(Exception, match="planted level failure"):
        _closure_pairs(seed, edges, 0, None, 64)
    assert not edges.is_cached
    assert not edges.storageLevel.useMemory
    left = {
        k: rdd
        for k, rdd in persisted().items()
        if k not in before and not rdd.isCheckpointed()
    }
    assert not left, [rdd.toDebugString() for rdd in left.values()]


def test_property_path_literal_endpoint_in_subject_slot_refused(hand_graph):
    """ADVICE r5: an Obj literal pinned where a step needs it as
    SUBJECT must raise a descriptive ValueError, not a Py4J error."""
    lit = Obj("lit", "Spark", "xsd:string", "")
    # inverse step: end= lands in the reversed pattern's subject slot
    with pytest.raises(ValueError, match="subject position"):
        property_path(hand_graph, ["^kg:name"], end=lit)
    # forward step: a literal start is the subject of the first hop
    with pytest.raises(ValueError, match="subject position"):
        property_path(hand_graph, ["kg:mentions"], start=lit)
    # but a literal END on a FORWARD step is fine (object slot):
    got = _path_rows(hand_graph, ["kg:name"], end=lit)
    assert got == [("<e:spark>",)]


# -- FILTER value constraints (filters=) ------------------------------


PRICED = [
    ("item:1", False, "kg:price", "lit", "50", "xsd:integer", ""),
    ("item:2", False, "kg:price", "lit", "150", "xsd:integer", ""),
    ("item:3", False, "kg:price", "lit", "250", "xsd:integer", ""),
    ("item:4", False, "kg:price", "lit", "150.5", "xsd:double", ""),
    ("item:1", False, "kg:label", "lit", "Alpha", "xsd:string", ""),
    ("item:2", False, "kg:label", "lit", "alpha", "xsd:string", ""),
    ("item:3", False, "kg:label", "lit", "Beta", "xsd:string", ""),
    ("item:1", False, "kg:cat", "res", "cat:a", "", ""),
    ("item:2", False, "kg:cat", "res", "cat:a", "", ""),
    ("item:3", False, "kg:cat", "res", "cat:b", "", ""),
    ("item:4", False, "kg:cat", "res", "cat:b", "", ""),
]


@pytest.fixture(scope="module")
def priced_graph(spark):
    return RDFGraph(
        spark.createDataFrame(PRICED, S.TRIPLE_SCHEMA), cache=False
    )


def test_bgp_filter_typed_comparison(priced_graph):
    """('?p', '>', 100, 'xsd:integer') keeps integer literals > 100
    only — the xsd:double 150.5 has a different tag and drops (typed
    identity, per the okey rule)."""
    pats = [("?i", "kg:price", "?p"), ("?i", "kg:cat", "?c")]
    got = _spark_rows(
        bgp_match(
            priced_graph, pats,
            filters=[("?p", ">", 100, "xsd:integer")],
        )
    )
    assert [r[0] for r in got] == ["<item:2>", "<item:3>"]


def test_bgp_filter_differential_vs_posthoc_where(priced_graph):
    """filters= == post-hoc .where() on the decoded columns for every
    op family (the verdict's differential)."""
    from pyspark.sql import functions as F
    from triplestore_spark.operators.bgp import compile_binding_filter

    pats = [("?i", "kg:price", "?p"), ("?i", "kg:cat", "?c")]
    specs = [
        [("?p", ">", 100, "xsd:integer")],
        [("?p", "<=", 150, "xsd:integer")],
        [("?p", ">", 100.0, "xsd:double")],
        [("?c", "=", "cat:a")],
        [("?i", "regex", "^item:[12]$")],
        [("?p", ">", 100, "xsd:integer"), ("?c", "=", "cat:b")],
    ]
    for fs in specs:
        got = _spark_rows(bgp_match(priced_graph, pats, filters=fs))
        base = bgp_match(priced_graph, pats)
        for v, op, val, *typ in fs:
            base = base.where(
                compile_binding_filter(v[1:], op, val, *typ)
            )
        want = _spark_rows(base)
        assert got == want, fs
    # non-vacuous: at least one spec returns rows, another drops rows
    n_all = bgp_match(priced_graph, pats).count()
    n_f = bgp_match(
        priced_graph, pats, filters=[("?p", ">", 100, "xsd:integer")]
    ).count()
    assert 0 < n_f < n_all


def test_kind_tests_drop_null_bindings(spark):
    """isLiteral/isIRI/isBlank over a NULL node key (e.g. a NULL
    subquery aggregate) must DROP the row per SPARQL error semantics,
    not classify NULL as a literal (ADVICE r6, low)."""
    from triplestore_spark.operators.bgp import compile_binding_filter

    df = spark.createDataFrame(
        [('"x"^^<xsd:string>',), ("<e:spark>",), (None,)], "k: string"
    )
    lit_rows = df.where(compile_binding_filter("k", "isliteral", True))
    assert [r["k"] for r in lit_rows.collect()] == ['"x"^^<xsd:string>']
    # negated form: NULL must not satisfy "is not an IRI" either
    not_iri = df.where(compile_binding_filter("k", "isiri", False))
    assert [r["k"] for r in not_iri.collect()] == ['"x"^^<xsd:string>']


def test_empty_path_group_named_error():
    """'()' inside a path alternative raises a named parse error, not
    a bare NoneType crash from the edge composer (ADVICE r6, low)."""
    from triplestore_spark.operators.bgp import _parse_path_step

    with pytest.raises(ValueError, match="empty group"):
        _parse_path_step("kg:a|()*")


def test_bgp_filter_multi_pattern_var_post_join(priced_graph):
    """A filter on a variable bound by TWO patterns applies after the
    join (and still gives the right answer)."""
    pats = [("?i", "kg:price", "?p"), ("?i", "kg:label", "?l")]
    got = _spark_rows(
        bgp_match(priced_graph, pats, filters=[("?i", "regex", "item:1")])
    )
    assert all(r[0] == "<item:1>" for r in got) and got


def test_bgp_filter_errors(priced_graph):
    pats = [("?i", "kg:price", "?p")]
    with pytest.raises(ValueError, match="unknown op"):
        bgp_match(priced_graph, pats, filters=[("?p", "~", 1)])
    with pytest.raises(ValueError, match="not bound"):
        bgp_match(priced_graph, pats, filters=[("?zz", "=", 1)])
    with pytest.raises(ValueError, match="needs an explicit"):
        bgp_match(priced_graph, pats, filters=[("?p", ">", 100)])


def test_bgp_filter_var_vs_var_typed(priced_graph):
    """('?p', '<', '?q', 'xsd:integer') compares two bindings through
    the same typed decode; tag-mismatch rows (the xsd:double price)
    drop, per the constant-side rule. Expected set hand-derived from
    PRICED independently of the engine."""
    pats = [
        ("?i", "kg:price", "?p"), ("?i", "kg:cat", "cat:a"),
        ("?j", "kg:price", "?q"), ("?j", "kg:cat", "cat:b"),
    ]
    got = _spark_rows(
        bgp_match(
            priced_graph, pats,
            filters=[("?p", "<", "?q", "xsd:integer")],
        ).select("i", "j")
    )
    # cat:a prices: item:1=50, item:2=150; cat:b: item:3=250 (int),
    # item:4=150.5 (double -> NULL under xsd:integer, drops)
    assert got == [
        ("<item:1>", "<item:3>"),
        ("<item:2>", "<item:3>"),
    ]


def test_bgp_filter_var_vs_var_sameterm(priced_graph):
    """Untyped ?x = ?y / != is sameTerm over the node keys: 'Alpha'
    and 'alpha' are different terms (no case folding), an IRI never
    equals a literal."""
    pats = [("?a", "kg:label", "?x"), ("?b", "kg:label", "?y")]
    eq = _spark_rows(
        bgp_match(priced_graph, pats, filters=[("?x", "=", "?y")])
        .select("a", "b")
    )
    # labels are pairwise-distinct terms -> identity pairs only
    assert eq == [
        ("<item:1>", "<item:1>"),
        ("<item:2>", "<item:2>"),
        ("<item:3>", "<item:3>"),
    ]
    ne = bgp_match(
        priced_graph, pats, filters=[("?x", "!=", "?y")]
    ).count()
    assert ne == 6  # 3x3 pairs minus the 3 identity ones


def test_bgp_filter_var_vs_var_theta_join_plan(priced_graph):
    """Two components linked only by a var-var filter cross-join, but
    the optimized plan carries the comparison ON the cross join (a
    theta-join), never an unconditioned cartesian."""
    df = bgp_match(
        priced_graph,
        [
            ("?i", "kg:price", "?p"), ("?i", "kg:cat", "cat:a"),
            ("?j", "kg:price", "?q"), ("?j", "kg:cat", "cat:b"),
        ],
        filters=[("?p", "<", "?q", "xsd:integer")],
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    cross = [
        line for line in plan.splitlines() if "Join Cross" in line
    ]
    assert cross, plan
    for line in cross:  # every cross carries a condition
        assert "Join Cross, (" in line, line


def test_bgp_filter_var_vs_var_errors(priced_graph):
    pats = [("?i", "kg:price", "?p"), ("?i", "kg:label", "?l")]
    with pytest.raises(ValueError, match="needs an explicit"):
        bgp_match(priced_graph, pats, filters=[("?p", ">", "?l")])
    with pytest.raises(ValueError, match="not bound"):
        bgp_match(priced_graph, pats, filters=[("?p", "=", "?zz")])
    with pytest.raises(ValueError, match="regex pattern must be"):
        bgp_match(priced_graph, pats, filters=[("?l", "regex", "?p")])


def test_bgp_filter_pushed_below_join(spark, tmp_path):
    """The single-pattern filter lands in the join's SUBTREE (below
    the join), not above it — at scale that's the difference between
    filtering before and after the shuffle."""
    path = str(tmp_path / "priced")
    spark.createDataFrame(PRICED, S.TRIPLE_SCHEMA).write.parquet(path)
    g = spark.read.parquet(path)
    df = bgp_match(
        g,
        [("?i", "kg:price", "?p"), ("?i", "kg:cat", "?c")],
        filters=[("?p", ">", 100, "xsd:integer")],
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    join_at = plan.index("Join")
    filt_at = plan.index("100")
    assert filt_at > join_at, plan


# -- path expressions in pattern predicate position -------------------


def test_path_pattern_in_bgp(hand_graph):
    """'?d kg:mentions/rdf:type ?t' — a path expression in predicate
    position compiles through property_path and joins like a pattern;
    equal to the explicit two-pattern BGP projected to (d, t)."""
    got = _spark_rows(bgp_match(hand_graph, "?d kg:mentions/rdf:type ?t"))
    want = _spark_rows(
        bgp_match(
            hand_graph,
            [("?d", "kg:mentions", "?m"), ("?m", "rdf:type", "?t")],
        ).select("d", "t").distinct()
    )
    assert got == want
    assert ("_:b0", "<kg:Engine>") in got


def test_path_pattern_closure_and_gate(cycle_graph):
    from triplestore_spark.operators.bgp import PathExpr

    # rooted closure in a pattern
    got = _spark_rows(bgp_match(cycle_graph, [("a", PathExpr("p+"), "?y")]))
    assert got == [("<a>",), ("<b>",), ("<c>",), ("<d>",)]
    # mixed chain with closure + fixed step joined to another pattern
    got = _spark_rows(
        bgp_match(cycle_graph, [("a", "p*/q", "?t"), ("?t", "?pp", "?o")])
    )  # ?t binds <t>, which has no outgoing edges -> join empty
    assert got == []
    got = _spark_rows(bgp_match(cycle_graph, [("?s", "q", "?m"),
                                              ("?s", "^p/p", "?s2")]))
    # d's co-children under p: siblings of d through a shared parent
    assert ("<d>", "<t>", "<a>") in got or ("<d>", "<t>", "<d>") in got
    # both endpoints pinned: existence gate (reachable vs not)
    present = _spark_rows(
        bgp_match(cycle_graph, [("a", "p{2}", "c"), ("?x", "q", "?y")])
    )
    assert present == [("<d>", "<t>")]
    absent = _spark_rows(
        bgp_match(cycle_graph, [("a", "p{2}", "b"), ("?x", "q", "?y")])
    )
    assert absent == []


def test_path_pattern_detection_and_sql_refusal(hand_graph):
    from triplestore_spark.operators.bgp import _is_path_pred

    # a full URI predicate is NOT a path ('://' guard)
    assert not _is_path_pred("http://x/y")
    assert _is_path_pred("kg:a/kg:b")
    assert _is_path_pred("kg:a*")
    assert not _is_path_pred("?p")
    with pytest.raises(ValueError, match="property_path_sql"):
        bgp_match_sql([("?d", "kg:mentions/rdf:type", "?t")])


def test_path_pattern_unrooted_closure_refused(cycle_graph):
    """A pure-closure path pattern with both endpoints open refuses
    (all-pairs); seed it by pinning an endpoint or adding a fixed
    step to the path."""
    with pytest.raises(ValueError, match="closure"):
        bgp_match(cycle_graph, [("?x", "p+", "?y")])


# -- negated property sets (!p1|p2) -----------------------------------


def test_negated_property_set(cycle_graph, hand_graph):
    # complement of q == all p hops
    got = _spark_rows(property_path(cycle_graph, ["!q"], start="a"))
    assert got == [("<b>",)]
    # from doc:2: everything except mentions -> the source hop only
    got = _spark_rows(
        property_path(hand_graph, ["!kg:mentions"], start="doc:2")
    )
    assert got == [("<src:book>",)]
    # multi-exclusion and closure over the complement
    got = _spark_rows(property_path(cycle_graph, ["!q|zzz*"], start="a"))
    assert got == [("<a>",), ("<b>",), ("<c>",), ("<d>",)]


def test_negated_property_set_differential(spark):
    from triplestore_spark.operators.bgp import property_path_sql

    rows = _random_rows(41)
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    for path, kw in [
        (["!p0"], {}),
        (["!p0|p1"], {}),
        (["p1", "!p0*"], {"start": "e2"}),
        (["!p3{1,2}"], {"start": "e1"}),
    ]:
        got = _spark_rows(property_path(g, path, **kw))
        want = _duck_rows(con, property_path_sql(path, **kw))
        assert got == want, (path, kw)
    assert len(got) >= 0


def test_negated_property_set_in_pattern(hand_graph):
    got = _spark_rows(bgp_match(hand_graph, [("doc:2", "!kg:mentions", "?o")]))
    assert got == [("<src:book>",)]


def test_negated_property_set_refusals(cycle_graph):
    with pytest.raises(ValueError, match="negated"):
        property_path(cycle_graph, ["!^p"], start="a")
    with pytest.raises(ValueError, match="backward|pin the start"):
        # unrooted leading closure would need to invert the negated set
        property_path(cycle_graph, ["!q*", "p"], end="c")


def test_rdfgraph_construct_front_door(hand_graph):
    """g.construct == bgp_construct through the method, filters pass."""
    from triplestore_spark.operators.bgp import bgp_construct

    pats = [("?a", "kg:mentions", "?m")]
    tmpl = [("?a", "kg:touches", "?m")]
    got = _spark_rows(
        hand_graph.construct(pats, tmpl).select("subject", "object_value")
    )
    want = _spark_rows(
        bgp_construct(hand_graph, pats, tmpl).select(
            "subject", "object_value"
        )
    )
    assert got == want and len(got) > 0


# -- VALUES inline bindings + ASK ------------------------------------


def test_bgp_values_single_var_differential(hand_graph):
    """Single-variable VALUES: pure membership pushdown (no end
    join); Spark == DuckDB twin, and == post-hoc isin."""
    pats = [("?d", "kg:mentions", "?e")]
    vals = {"?e": ["<e:spark>"]}
    got = _spark_rows(bgp_match(hand_graph, pats, values=vals))
    con = _duck(HAND)
    want = _duck_rows(con, bgp_match_sql(pats, values=vals))
    assert got == want
    posthoc = _spark_rows(
        bgp_match(hand_graph, pats).where("e = '<e:spark>'")
    )
    assert got == posthoc and len(got) == 3


def test_bgp_values_tuples_with_undef(hand_graph):
    """Multi-variable VALUES with an UNDEF: the (doc:2, UNDEF) row
    matches every doc:2 mention; the fully-bound row matches one."""
    pats = [("?d", "kg:mentions", "?e"), ("?d", "kg:source", "?s")]
    vals = (
        ["?d", "?e"],
        [("<doc:2>", None), ("<doc:1>", "<e:spark>")],
    )
    got = _spark_rows(bgp_match(hand_graph, pats, values=vals))
    con = _duck(HAND)
    want = _duck_rows(con, bgp_match_sql(pats, values=vals))
    assert got == want
    assert got == [
        ("<doc:1>", "<e:spark>", "<src:web>"),
        ("<doc:2>", "<e:duck>", "<src:book>"),
        ("<doc:2>", "<e:spark>", "<src:book>"),
    ]


def test_bgp_values_randomized_differential(spark):
    """Seeded random graphs x random VALUES specs (with UNDEFs):
    Spark == DuckDB on every draw."""
    rng = random.Random(20260818)
    for round_i in range(4):
        rows = []
        for d in range(7):
            for e in range(4):
                if rng.random() < 0.5:
                    rows.append(
                        (f"doc:{d}", False, "kg:mentions", "res",
                         f"e:{e}", "", "")
                    )
            rows.append(
                (f"doc:{d}", False, "kg:source", "res",
                 f"src:{rng.randrange(3)}", "", "")
            )
        g = RDFGraph(
            spark.createDataFrame(rows, S.TRIPLE_SCHEMA), cache=False
        )
        pats = [("?d", "kg:mentions", "?e"), ("?d", "kg:source", "?s")]
        vrows = set()
        while len(vrows) < 3:
            vrows.add((
                f"<doc:{rng.randrange(7)}>" if rng.random() < 0.8 else None,
                f"<src:{rng.randrange(3)}>" if rng.random() < 0.5 else None,
            ))
        vals = (["?d", "?s"], sorted(vrows, key=str))
        got = _spark_rows(bgp_match(g, pats, values=vals))
        con = _duck(rows)
        want = _duck_rows(con, bgp_match_sql(pats, values=vals))
        assert got == want, (round_i, vals)


def test_bgp_values_bag_multiplicity(hand_graph):
    """In bag mode a solution matching rows in two UNDEF-mask groups
    appears once per matching row (SPARQL join multiplicity); set
    mode dedupes."""
    pats = [("?d", "kg:mentions", "?e")]
    vals = (["?d", "?e"], [("<doc:1>", None), (None, "<e:spark>")])
    bag = bgp_match(hand_graph, pats, values=vals, distinct=False)
    # doc:1/e:spark matches BOTH rows -> twice in bag mode
    assert bag.count() == 4
    con = _duck(HAND)
    want = sorted(
        tuple(r) for r in con.execute(
            bgp_match_sql(pats, values=vals, distinct=False)
        ).fetchall()
    )
    assert sorted(tuple(r) for r in bag.collect()) == want
    assert bgp_match(hand_graph, pats, values=vals).count() == 3


def test_bgp_values_validation(hand_graph):
    pats = [("?d", "kg:mentions", "?e")]
    with pytest.raises(ValueError, match="not bound"):
        bgp_match(hand_graph, pats, values={"?zzz": ["<e:spark>"]})
    with pytest.raises(ValueError, match="duplicate row"):
        bgp_match(
            hand_graph, pats,
            values=(["?e"], [("<e:spark>",), ("<e:spark>",)]),
        )
    with pytest.raises(ValueError, match="row width"):
        bgp_match(hand_graph, pats, values=(["?d", "?e"], [("<doc:1>",)]))
    with pytest.raises(ValueError, match="no binding rows"):
        bgp_match(hand_graph, pats, values={"?e": []})
    with pytest.raises(ValueError, match="tuple form"):
        bgp_match(
            hand_graph, pats,
            values={"?d": ["<doc:1>"], "?e": ["<e:spark>"]},
        )


def test_rdfgraph_ask(hand_graph):
    """ASK front door: existence over the full pattern surface."""
    assert hand_graph.ask([("?d", "kg:mentions", "?e")])
    assert hand_graph.ask(
        [("?d", "kg:mentions", "?e")], values={"?e": ["<e:duck>"]}
    )
    assert not hand_graph.ask([("?d", "kg:promotes", "?e")])
    assert not hand_graph.ask(
        [("?d", "kg:mentions", "?e")], values={"?e": ["<e:nope>"]}
    )


def test_bgp_values_membership_pushed_below_join(spark, tmp_path):
    """The VALUES membership prefilter lands in the join's SUBTREE
    (below the shuffle), on every scan binding the variable."""
    path = str(tmp_path / "valspush")
    spark.createDataFrame(HAND, S.TRIPLE_SCHEMA).write.parquet(path)
    g = spark.read.parquet(path)
    df = bgp_match(
        g,
        [("?d", "kg:mentions", "?e"), ("?d", "kg:source", "?s")],
        values={"?e": ["<e:spark>", "<e:duck>"]},
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    join_at = plan.index("Join")
    memb_at = plan.index("e:spark")
    assert memb_at > join_at, plan


# -- BIND (compile_bind_expr) + OPTIONAL-with-FILTER -------------------


def test_bgp_bind_forms(priced_graph):
    """Every compile_bind_expr form yields canonical node keys that
    downstream operators cannot tell from matched ones."""
    pats = [("?i", "kg:price", "?p")]
    got = _spark_rows(
        bgp_match(
            priced_graph, pats,
            bind={
                "?alias": ("var", "?p"),
                "?k": ("const", "<cat:x>"),
                "?s": ("str", "?i"),
                "?tag": ("concat", [("lit", "p="), ("str", "?p")]),
                "?twice": ("arith", "*", ("cast", "?p"), ("num", 2),
                           S.XSD_INTEGER),
            },
        ).where("i = '<item:1>'")
    )
    assert got == [(
        "<item:1>", '"50"^^<xsd:integer>',
        '"50"^^<xsd:integer>', "<cat:x>", '"item:1"^^<>',
        '"p=50"^^<>', '"100"^^<xsd:integer>',
    )]


def test_bgp_bind_error_as_unbound(priced_graph):
    """Arithmetic over a tag-mismatched literal (xsd:double under an
    xsd:integer cast) binds NULL, per SPARQL error-as-unbound."""
    got = dict(_spark_rows(
        bgp_match(
            priced_graph, [("?i", "kg:price", "?p")],
            bind={"?t": ("arith", "+", ("cast", "?p"), ("num", 0),
                         S.XSD_INTEGER)},
        ).select("i", "t")
    ))
    assert got["<item:4>"] is None          # 150.5 is xsd:double
    assert got["<item:1>"] == '"50"^^<xsd:integer>'


def test_bgp_bind_validation(priced_graph):
    pats = [("?i", "kg:price", "?p")]
    with pytest.raises(ValueError, match="already bound"):
        bgp_match(priced_graph, pats, bind={"?p": ("var", "?i")})
    with pytest.raises(ValueError, match="unbound"):
        bgp_match(priced_graph, pats, bind={"?x": ("str", "?nope")})
    with pytest.raises(ValueError, match="xsd:integer only"):
        bgp_match(
            priced_graph, pats,
            bind={"?x": ("arith", "+", ("cast", "?p"), ("num", 1),
                         "xsd:double")},
        )
    with pytest.raises(ValueError, match="unknown spec form"):
        bgp_match(priced_graph, pats, bind={"?x": ("nope", "?p")})


def test_bgp_optional_filter_semantics(priced_graph):
    """The arm filter prefilters the OPTIONAL group: required rows
    always survive; the group binds only where the filter holds."""
    got = dict(_spark_rows(
        bgp_match(
            priced_graph, [("?i", "kg:cat", "?c")],
            optional=[{
                "patterns": [("?i", "kg:price", "?p")],
                "filters": [("?p", ">", 100, "xsd:integer")],
            }],
        ).select("i", "p")
    ))
    assert set(got) == {f"<item:{k}>" for k in "1234"}
    assert got["<item:1>"] is None       # 50 fails the filter
    assert got["<item:4>"] is None       # double, tag mismatch
    assert got["<item:2>"] == '"150"^^<xsd:integer>'


def test_bgp_optional_filter_validation(priced_graph):
    with pytest.raises(ValueError, match="not bound by the required"):
        # the arm filter may reference the group's own variables only
        bgp_match(
            priced_graph, [("?i", "kg:label", "?l")],
            optional=[{
                "patterns": [("?i", "kg:price", "?p")],
                "filters": [("?l", "=", "Alpha")],
            }],
        )
    with pytest.raises(ValueError, match="unknown keys"):
        bgp_match(
            priced_graph, [("?i", "kg:label", "?l")],
            optional=[{"patterns": [("?i", "kg:price", "?p")],
                       "filter": []}],
        )
    with pytest.raises(ValueError, match="'patterns' key"):
        bgp_match(
            priced_graph, [("?i", "kg:label", "?l")],
            optional=[{"filters": []}],
        )


# -- joins= (subquery solution sets) -----------------------------------


def test_bgp_joins_solution_set(priced_graph):
    """A pre-computed solution DataFrame joins on shared variables and
    participates in filter pushdown like any scan."""
    from pyspark.sql import functions as F

    spark = priced_graph.df.sparkSession
    sol = spark.createDataFrame(
        [("<item:1>", '"10"^^<xsd:integer>'),
         ("<item:3>", '"30"^^<xsd:integer>')],
        "i string, score string",
    )
    got = _spark_rows(
        bgp_match(
            priced_graph, [("?i", "kg:label", "?l")], joins=[sol]
        ).select("i", "score")
    )
    assert got == [
        ("<item:1>", '"10"^^<xsd:integer>'),
        ("<item:3>", '"30"^^<xsd:integer>'),
    ]
    # a filter on a join-only variable applies (decoded, typed)
    got2 = _spark_rows(
        bgp_match(
            priced_graph, [("?i", "kg:label", "?l")], joins=[sol],
            filters=[("?score", ">", 20, "xsd:integer")],
        ).select("i")
    )
    assert got2 == [("<item:3>",)]


def test_bgp_joins_validation(priced_graph):
    spark = priced_graph.df.sparkSession
    with pytest.raises(ValueError, match="no patterns"):
        bgp_match(priced_graph, [])
    # patterns may be empty when joins are present
    sol = spark.createDataFrame([("<item:1>",)], "i string")
    assert _spark_rows(bgp_match(priced_graph, [], joins=[sol])) \
        == [("<item:1>",)]
    # a join sharing no variable is a cartesian -> refused
    lone = spark.createDataFrame([("x",)], "z string")
    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(priced_graph, [("?i", "kg:label", "?l")],
                  joins=[lone])


# -- closure over a sequence group ((p1/p2)*) --------------------------


def test_seq_group_closure_cycle(spark):
    """(p/q)* closes over the COMPOSED relation — cycle-safe, exact
    reachable set, reversible from a pinned end."""
    rows = [
        ("a", False, "p", "res", "b", "", ""),
        ("b", False, "q", "res", "c", "", ""),
        ("c", False, "p", "res", "d", "", ""),
        ("d", False, "q", "res", "e", "", ""),
        ("x", False, "p", "res", "y", "", ""),  # (p/q) cycle x<->x
        ("y", False, "q", "res", "x", "", ""),
        ("a", False, "r", "res", "x", "", ""),
    ]
    g = RDFGraph(
        spark.createDataFrame(rows, S.TRIPLE_SCHEMA), cache=False
    )
    assert _path_rows(g, ["(p/q)*"], start="a") == [
        ("<a>",), ("<c>",), ("<e>",)
    ]
    assert _path_rows(g, ["(p/q)+"], start="a") == [
        ("<c>",), ("<e>",)
    ]
    # through the cycle: r then (p/q)* loops back to x only
    assert _path_rows(g, ["r", "(p/q)*"], start="a") == [("<x>",)]
    # pinned end: reversed group walk gives the same pairs
    assert _path_rows(g, ["(p/q)*"], end="e") == [
        ("<a>",), ("<c>",), ("<e>",)
    ]
    # explicit inverse sequence
    assert _path_rows(g, ["(^q/^p)*"], start="e") == [
        ("<a>",), ("<c>",), ("<e>",)
    ]


def test_seq_group_differential_vs_recursive_cte(spark):
    """Random graph: sequence-group closure == DuckDB WITH RECURSIVE
    over the composed edge relation (property_path_sql emits the
    join-composed edge CTE)."""
    from triplestore_spark.operators.bgp import property_path_sql

    rows = _random_rows(29)
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    cases = [
        (["(p0/p1)*"], {"start": "e1"}),
        (["(p0/p1)+"], {"start": "e1"}),
        (["(p0/p1){1,2}"], {"start": "e1"}),
        (["(p0|p1/p2)*"], {"start": "e2"}),   # alternation inside
        (["(^p0/p1)*"], {"start": "e1"}),     # inverse hop inside
        (["(p0/p1)*"], {"end": "e3"}),        # reversed group walk
        (["p2", "(p0/p1)*"], {"start": "e2"}),
        (["(p0/p1/p2){1,}"], {"start": "e1"}),
    ]
    nonempty = 0
    for path, kw in cases:
        got = _spark_rows(property_path(g, path, **kw))
        want = _duck_rows(con, property_path_sql(path, **kw))
        assert got == want, (path, kw)
        nonempty += bool(got)
    assert nonempty >= 6


def test_seq_group_parse_refusals(cycle_graph):
    from triplestore_spark.operators.bgp import PathExpr

    with pytest.raises(ValueError, match="FIXED-LENGTH"):
        property_path(cycle_graph, ["(p*/q)+"], start="a")
    with pytest.raises(ValueError, match="nested quantifiers"):
        property_path(cycle_graph, ["(p+)*"], start="a")
    with pytest.raises(ValueError, match="bad group"):
        property_path(cycle_graph, ["(p/q)*x"], start="a")
    with pytest.raises(ValueError, match="bad group"):
        property_path(cycle_graph, ["(p/q*"], start="a")
    with pytest.raises(ValueError, match="unbalanced"):
        PathExpr("(p/q*")  # the string splitter checks balance
    # plain parens splice: (p/q) == p/q
    assert _path_rows(cycle_graph, ["(p/p)"], start="a") == \
        _path_rows(cycle_graph, ["p", "p"], start="a")


def test_alt_with_sequence_closure_differential(spark):
    """(r|(p/q))* — alternation whose branch is a sequence group:
    the closure's edge set unions the plain hop with the composed
    relation; Spark == DuckDB recursive CTE, rooted and reversed."""
    from triplestore_spark.operators.bgp import property_path_sql

    rows = [
        ("n:a", False, "p", "res", "n:b", "", ""),
        ("n:b", False, "q", "res", "n:c", "", ""),  # a -(p/q)-> c
        ("n:a", False, "r", "res", "n:c", "", ""),
        ("n:c", False, "r", "res", "n:d", "", ""),
        ("n:d", False, "p", "res", "n:e", "", ""),
        ("n:e", False, "q", "res", "n:a", "", ""),  # cycle via (p/q)
    ]
    g = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    con = _duck(rows)
    cases = [
        (["(r|(p/q))*"], dict(start="n:a")),
        (["(r|(p/q))+"], dict(start="n:a")),
        (["(r|(p/q)){1,2}"], dict(start="n:a")),
        (["(r|(p/q))*"], dict(end="n:d")),  # reversed group-alt walk
    ]
    for path, kw in cases:
        got = _spark_rows(property_path(g, path, **kw))
        want = _duck_rows(con, property_path_sql(path, **kw))
        assert got == want, (path, kw)
    assert _spark_rows(
        property_path(g, ["(r|(p/q))*"], start="n:a")
    ) == [("<n:a>",), ("<n:c>",), ("<n:d>",)]
    # unquantified sequence alternative refuses in BOTH engines
    with pytest.raises(ValueError, match="needs a quantifier"):
        property_path(g, ["r|(p/q)"], start="n:a")
    with pytest.raises(ValueError, match="needs a quantifier"):
        property_path_sql(["r|(p/q)"], start="n:a")
