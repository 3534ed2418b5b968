"""SPARQL text front door: every clause differentially checked
against the programmatic API it compiles to (bgp_match / bgp_select /
bgp_union / bgp_construct / property_path), plus parser unit tests
and unsupported-construct refusals.

The execution engines under the text layer are themselves
driver-oracled (bgp_star, bgp_agg, bgp_union, path_supply_closure
gates); these tests pin that the TEXT compiles to the same calls.
"""

import pytest
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.dsl import Obj
from triplestore_spark.operators.bgp import (
    PathExpr,
    _parse_path_steps,
    bgp_construct,
    bgp_match,
    property_path,
    property_path_sql,
)
from triplestore_spark.operators.bgp_agg import bgp_select, bgp_union
from triplestore_spark.operators.graph import RDFGraph
from triplestore_spark.operators.sparql import (
    SparqlParseError,
    parse_sparql,
    sparql_query,
)

HAND = [
    ("doc:1", False, "kg:mentions", "res", "e:spark", "", ""),
    ("doc:1", False, "kg:source", "res", "src:web", "", ""),
    ("doc:1", False, "kg:words", "lit", "120", "xsd:integer", ""),
    ("doc:2", False, "kg:mentions", "res", "e:spark", "", ""),
    ("doc:2", False, "kg:mentions", "res", "e:duck", "", ""),
    ("doc:2", False, "kg:source", "res", "src:book", "", ""),
    ("doc:2", False, "kg:words", "lit", "80", "xsd:integer", ""),
    ("doc:3", False, "kg:mentions", "res", "e:duck", "", ""),
    ("doc:3", False, "kg:words", "lit", "220", "xsd:integer", ""),
    ("e:spark", False, "rdf:type", "res", "kg:Engine", "", ""),
    ("e:duck", False, "rdf:type", "res", "kg:Engine", "", ""),
    ("e:spark", False, "kg:name", "lit", "Spark", "xsd:string", ""),
    ("e:spark", False, "kg:name", "lit", "Etincelle", "", "fr"),
    ("e:duck", False, "kg:name", "lit", "Duck", "xsd:string", ""),
    ("b0", True, "kg:mentions", "res", "e:spark", "", ""),
    ("b0", True, "rdf:type", "res", "kg:Draft", "", ""),
    # a small subclass chain for path closure
    ("kg:Engine", False, "kg:sub", "res", "kg:System", "", ""),
    ("kg:System", False, "kg:sub", "res", "kg:Thing", "", ""),
]


@pytest.fixture(scope="module")
def g(spark):
    return RDFGraph(
        spark.createDataFrame(HAND, S.TRIPLE_SCHEMA), cache=False
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------ SELECT


def test_select_star_bgp(g):
    got = g.sparql(
        "SELECT * WHERE { ?d kg:mentions ?e . ?e rdf:type kg:Engine }"
    )
    want = bgp_match(
        g,
        [("?d", "kg:mentions", "?e"), ("?e", "rdf:type", "kg:Engine")],
    )
    assert got.columns == want.columns
    assert rows(got) == rows(want)


def test_select_projection_and_distinct(g):
    got = g.sparql("SELECT DISTINCT ?e WHERE { ?d kg:mentions ?e }")
    want = (
        bgp_match(g, [("?d", "kg:mentions", "?e")], distinct=False)
        .select("e")
        .distinct()
    )
    assert got.columns == ["e"]
    assert rows(got) == rows(want)
    # non-distinct keeps the solution multiset
    bag = sparql_query(g, "SELECT ?e WHERE { ?d kg:mentions ?e }")
    assert len(bag.collect()) == 5


def test_select_optional_and_filter(g):
    text = """
    SELECT * WHERE {
      ?d kg:mentions ?e .
      OPTIONAL { ?d kg:source ?s }
      FILTER(xsd:integer(?n) > 100)
      ?d kg:words ?n .
    }"""
    got = sparql_query(g, text)
    want = bgp_match(
        g,
        [("?d", "kg:mentions", "?e"), ("?d", "kg:words", "?n")],
        optional=[[("?d", "kg:source", "?s")]],
        filters=[("?n", ">", 100, "xsd:integer")],
    )
    assert rows(got.select(*sorted(got.columns))) == rows(
        want.select(*sorted(want.columns))
    )
    docs = {r["d"] for r in got.collect()}
    assert docs == {"<doc:1>", "<doc:3>"}


def test_filter_const_on_left_flips(g):
    got = sparql_query(
        g, "SELECT ?d WHERE { ?d kg:words ?n FILTER(100 < xsd:integer(?n)) }"
    )
    assert {r["d"] for r in got.collect()} == {"<doc:1>", "<doc:3>"}


def test_filter_typed_literal_comparand(g):
    got = sparql_query(
        g,
        'SELECT ?d WHERE { ?d kg:words ?n '
        'FILTER(?n >= "120"^^xsd:integer) }',
    )
    assert {r["d"] for r in got.collect()} == {"<doc:1>", "<doc:3>"}


def test_filter_regex_and_string_eq(g):
    got = sparql_query(
        g, 'SELECT ?e WHERE { ?e kg:name ?v FILTER regex(?v, "^Sp") }'
    )
    assert {r["e"] for r in got.collect()} == {"<e:spark>"}
    got = sparql_query(
        g, 'SELECT ?e WHERE { ?e kg:name ?v FILTER(?v = "Duck") }'
    )
    assert {r["e"] for r in got.collect()} == {"<e:duck>"}


def test_minus_and_not_exists_agree(g):
    q1 = sparql_query(
        g,
        "SELECT ?d WHERE { ?d kg:mentions ?e "
        "MINUS { ?d kg:source src:web } }",
    )
    q2 = sparql_query(
        g,
        "SELECT ?d WHERE { ?d kg:mentions ?e "
        "FILTER NOT EXISTS { ?d kg:source src:web } }",
    )
    want = bgp_match(
        g,
        [("?d", "kg:mentions", "?e")],
        anti=[[("?d", "kg:source", "src:web")]],
    ).select("d")
    assert rows(q1) == rows(q2) == rows(want)


def test_filter_exists_positive(g):
    """FILTER EXISTS is the semi-join twin: it keeps exactly the
    complement of FILTER NOT EXISTS, and compiles to bgp_match's
    exists= kwarg."""
    q = sparql_query(
        g,
        "SELECT ?d ?e WHERE { ?d kg:mentions ?e "
        "FILTER EXISTS { ?d kg:source src:web } }",
    )
    want = bgp_match(
        g,
        [("?d", "kg:mentions", "?e")],
        exists=[[("?d", "kg:source", "src:web")]],
    )
    assert rows(q) == rows(want) == [("<doc:1>", "<e:spark>")]
    # complement: EXISTS + NOT EXISTS partition the solution set
    neg = sparql_query(
        g,
        "SELECT ?d ?e WHERE { ?d kg:mentions ?e "
        "FILTER NOT EXISTS { ?d kg:source src:web } }",
    )
    plain = sparql_query(g, "SELECT ?d ?e WHERE { ?d kg:mentions ?e }")
    assert sorted(rows(q) + rows(neg)) == rows(plain)


def test_filter_var_vs_var(g):
    """Typed two-variable comparison (one cast is enough) and untyped
    sameTerm equality through the text layer."""
    q = sparql_query(
        g,
        "SELECT ?a ?b WHERE { ?a kg:words ?x . ?b kg:words ?y "
        "FILTER(xsd:integer(?x) < xsd:integer(?y)) }",
    )
    # words: doc:1=120, doc:2=80, doc:3=220
    assert rows(q) == [
        ("<doc:1>", "<doc:3>"),
        ("<doc:2>", "<doc:1>"),
        ("<doc:2>", "<doc:3>"),
    ]
    eq = sparql_query(
        g,
        "SELECT ?a ?b WHERE { ?a kg:name ?x . ?b kg:name ?y "
        "FILTER(?x = ?y) }",
    )
    # sameTerm: each of the 3 name literals equals only itself
    assert rows(eq) == [
        ("<e:duck>", "<e:duck>"),
        ("<e:spark>", "<e:spark>"),
        ("<e:spark>", "<e:spark>"),
    ]


def test_values_single_and_tuple(g):
    got = sparql_query(
        g,
        "SELECT * WHERE { ?d kg:mentions ?e "
        "VALUES ?e { <e:duck> } }",
    )
    want = bgp_match(
        g, [("?d", "kg:mentions", "?e")], values={"?e": ["<e:duck>"]}
    )
    assert rows(got) == rows(want)
    got2 = sparql_query(
        g,
        "SELECT * WHERE { ?d kg:mentions ?e "
        "VALUES (?d ?e) { (<doc:2> <e:duck>) (<doc:1> UNDEF) } }",
    )
    want2 = bgp_match(
        g,
        [("?d", "kg:mentions", "?e")],
        values=(
            ["?d", "?e"],
            [("<doc:2>", "<e:duck>"), ("<doc:1>", None)],
        ),
    )
    assert rows(got2) == rows(want2)
    assert len(rows(got2)) == 2


def test_literal_object_terms(g):
    got = sparql_query(
        g, 'SELECT ?e WHERE { ?e kg:name "Etincelle"@fr }'
    )
    assert {r["e"] for r in got.collect()} == {"<e:spark>"}
    got = sparql_query(g, "SELECT ?d WHERE { ?d kg:words 220 }")
    assert {r["d"] for r in got.collect()} == {"<doc:3>"}


def test_predicate_object_list_abbreviations(g):
    got = sparql_query(
        g,
        "SELECT * WHERE { ?d kg:mentions e:spark, e:duck ; "
        "kg:source ?s }",
    )
    want = bgp_match(
        g,
        [
            ("?d", "kg:mentions", "e:spark"),
            ("?d", "kg:mentions", "e:duck"),
            ("?d", "kg:source", "?s"),
        ],
    )
    assert rows(got) == rows(want)
    assert {r["d"] for r in got.collect()} == {"<doc:2>"}


def test_prefix_expansion_and_comments():
    q = parse_sparql(
        """
        # find engines
        PREFIX ex: <http://example.org/>
        SELECT ?x WHERE { ?x a ex:Engine . }
        """
    )
    assert q["where"]["patterns"] == [
        ("?x", "rdf:type", "http://example.org/Engine")
    ]


def test_xsd_prefix_normalizes_to_short_form():
    q = parse_sparql(
        "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
        "SELECT ?d WHERE { ?d kg:words ?n "
        "FILTER(xsd:integer(?n) > 5) }"
    )
    assert q["where"]["filters"] == [("?n", ">", 5, "xsd:integer")]


# ----------------------------------------------------------- paths


def test_path_sequence_and_closure(g):
    got = sparql_query(
        g, "SELECT * WHERE { ?d kg:mentions/rdf:type/kg:sub* ?c }"
    )
    want = bgp_match(
        g, [("?d", PathExpr(["kg:mentions", "rdf:type", "kg:sub*"]), "?c")]
    )
    assert rows(got) == rows(want)
    classes = {r["c"] for r in got.collect() if r["d"] == "<doc:1>"}
    assert classes == {"<kg:Engine>", "<kg:System>", "<kg:Thing>"}


def test_path_inverse_and_alternation(g):
    got = sparql_query(
        g, "SELECT * WHERE { ?e ^kg:mentions ?d . }"
    )
    want = bgp_match(g, [("?d", "kg:mentions", "?e")])
    assert {(r["d"], r["e"]) for r in got.collect()} == {
        (r["d"], r["e"]) for r in want.collect()
    }
    got2 = sparql_query(
        g, "SELECT * WHERE { ?d (kg:mentions|kg:source) ?x }"
    )
    want2 = bgp_match(g, [("?d", PathExpr(["kg:mentions|kg:source"]), "?x")])
    assert rows(got2) == rows(want2)


def test_path_grouped_quantifier_and_inverse_group():
    """SPARQL compiles a path to the parsed steps the engine's string
    syntax parses to: both describe the same path."""
    q = parse_sparql("SELECT * WHERE { <e:x> (kg:a|^kg:b)* ?y }")
    pred = q["where"]["patterns"][0][1]
    assert isinstance(pred, PathExpr)
    assert pred.steps == _parse_path_steps(["kg:a|^kg:b*"])
    q2 = parse_sparql("SELECT * WHERE { ?x ^(kg:a/kg:b) ?y }")
    pred2 = q2["where"]["patterns"][0][1]
    assert pred2.steps == _parse_path_steps(["^kg:b", "^kg:a"])
    q3 = parse_sparql("SELECT * WHERE { ?x kg:a? ?y }")
    assert q3["where"]["patterns"][0][1].steps == _parse_path_steps(
        ["kg:a{0,1}"]
    )
    q4 = parse_sparql("SELECT * WHERE { ?x !(kg:a|kg:b)+ ?y }")
    assert q4["where"]["patterns"][0][1].steps == _parse_path_steps(
        ["!kg:a|kg:b+"]
    )


def test_path_closure_matches_property_path(g):
    got = sparql_query(
        g, "SELECT * WHERE { kg:Engine kg:sub+ ?c }"
    )
    want = property_path(g, ["kg:sub+"], start="kg:Engine").select(
        "dst"
    )
    assert sorted(r["c"] for r in got.collect()) == sorted(
        r["dst"] for r in want.collect()
    )


def test_unsupported_path_shapes():
    with pytest.raises(SparqlParseError, match="nested path quant"):
        parse_sparql("SELECT * WHERE { ?x (kg:a*/kg:b)* ?y }")
    with pytest.raises(SparqlParseError, match="quantifiers"):
        parse_sparql("SELECT * WHERE { ?x kg:a*|kg:b ?y }")
    with pytest.raises(SparqlParseError, match="inverse"):
        parse_sparql("SELECT * WHERE { ?x !(^kg:a) ?y }")


def test_path_sequence_closure(g):
    """(p1/p2)* — closure over the composed sequence relation —
    compiles through to property_path's group syntax."""
    # kg:Engine --sub--> kg:System --sub--> kg:Thing; (sub/sub)*
    # from kg:Engine reaches itself (0 hops) and kg:Thing (1 pair)
    got = sparql_query(
        g, "SELECT ?c WHERE { kg:Engine (kg:sub/kg:sub)* ?c }"
    )
    assert sorted(r["c"] for r in got.collect()) == [
        "<kg:Engine>", "<kg:Thing>"
    ]
    want = property_path(
        g, ["(kg:sub/kg:sub)*"], start="kg:Engine"
    ).select("dst")
    assert sorted(r["c"] for r in got.collect()) == sorted(
        r["dst"] for r in want.collect()
    )
    # inverse distributes: ^((sub/sub)*) from kg:Thing walks back
    inv = sparql_query(
        g, "SELECT ?c WHERE { ?c (kg:sub/kg:sub)* kg:Thing }"
    )
    assert sorted(r["c"] for r in inv.collect()) == [
        "<kg:Engine>", "<kg:Thing>"
    ]


# ------------------------------------------------- aggregation etc.


def test_group_by_count_having_order(g):
    text = """
    SELECT ?d (COUNT(*) AS ?n) WHERE { ?d kg:mentions ?e }
    GROUP BY ?d HAVING (?n >= 2) ORDER BY DESC(?n) LIMIT 5
    """
    got = sparql_query(g, text)
    want = bgp_select(
        g,
        [("?d", "kg:mentions", "?e")],
        group_by=["?d"],
        aggregates={"n": ("count", "*")},
        having=[("n", ">=", 2)],
        order_by=[("n", "desc")],
        limit=5,
    )
    assert got.columns == ["d", "n"]
    assert rows(got) == rows(want)
    assert rows(got) == [("<doc:2>", 2)]


def test_having_matches_aggregate_expression(g):
    got = sparql_query(
        g,
        "SELECT ?d (COUNT(*) AS ?n) WHERE { ?d kg:mentions ?e } "
        "GROUP BY ?d HAVING (COUNT(*) >= 2)",
    )
    assert rows(got) == [("<doc:2>", 2)]


def test_typed_sum_requires_cast(g):
    got = sparql_query(
        g,
        "SELECT (SUM(xsd:integer(?n)) AS ?total) "
        "WHERE { ?d kg:words ?n }",
    )
    assert rows(got) == [(420,)]
    with pytest.raises(SparqlParseError, match="cast"):
        parse_sparql("SELECT (SUM(?n) AS ?t) WHERE { ?d kg:words ?n }")


def test_count_distinct_and_group_concat(g):
    got = sparql_query(
        g,
        "SELECT (COUNT(DISTINCT ?e) AS ?k) "
        '(GROUP_CONCAT(?d; SEPARATOR=",") AS ?ds) '
        "WHERE { ?d kg:mentions ?e . ?d kg:source ?s }",
    )
    r = got.collect()[0]
    assert r["k"] == 2
    assert r["ds"] == "<doc:1>,<doc:2>,<doc:2>"


def test_order_by_typed_plain_select(g):
    got = sparql_query(
        g,
        "SELECT ?d WHERE { ?d kg:words ?n } "
        "ORDER BY DESC(xsd:integer(?n)) LIMIT 2",
    )
    assert [r["d"] for r in got.collect()] == ["<doc:3>", "<doc:1>"]


def test_projected_var_must_be_grouped(g):
    with pytest.raises(SparqlParseError, match="GROUP BY"):
        sparql_query(
            g,
            "SELECT ?e (COUNT(*) AS ?n) WHERE { ?d kg:mentions ?e } "
            "GROUP BY ?d",
        )


# ------------------------------------------------------------ UNION


def test_union(g):
    text = """
    SELECT * WHERE {
      { ?d kg:source src:web } UNION { ?d kg:mentions e:duck }
    }"""
    got = sparql_query(g, text)
    want = bgp_union(
        g,
        [
            {"patterns": [("?d", "kg:source", "src:web")]},
            {"patterns": [("?d", "kg:mentions", "e:duck")]},
        ],
    )
    assert rows(got) == rows(want)
    assert {r["d"] for r in got.collect()} == {
        "<doc:1>", "<doc:2>", "<doc:3>",
    }


def test_union_with_projection_and_arm_filters(g):
    text = """
    SELECT DISTINCT ?d WHERE {
      { ?d kg:words ?n FILTER(xsd:integer(?n) > 200) }
      UNION
      { ?d kg:source src:web }
    }"""
    got = sparql_query(g, text)
    assert {r["d"] for r in got.collect()} == {"<doc:1>", "<doc:3>"}
    assert got.columns == ["d"]


def test_union_aggregation_ungrouped(g):
    """A global aggregate over UNION counts the bag-union multiset."""
    got = sparql_query(
        g,
        "SELECT (COUNT(*) AS ?n) WHERE "
        "{ { ?d kg:source src:web } UNION { ?d kg:mentions ?e } }",
    )
    # 1 web-source row + 5 mention rows
    assert [tuple(r) for r in got.collect()] == [(6,)]


# -------------------------------------------- ASK/CONSTRUCT/DESCRIBE


def test_ask(g):
    assert sparql_query(g, "ASK { doc:1 kg:mentions e:spark }") is True
    assert sparql_query(g, "ASK { doc:3 kg:source ?s }") is False
    assert (
        sparql_query(
            g,
            "ASK { { doc:3 kg:source ?s } UNION "
            "{ doc:3 kg:mentions ?e } }",
        )
        is True
    )


@pytest.fixture(scope="module")
def chain(spark):
    """(n1 urn:p n2), (n2 urn:q n3): the smallest graph with a
    two-hop path between constants."""
    from triplestore_spark.dsl import subj_pred, triples_to_df

    return RDFGraph(
        triples_to_df(
            spark,
            [
                subj_pred("n1", "urn:p").resource("n2"),
                subj_pred("n2", "urn:q").resource("n3"),
            ],
        ),
        cache=False,
    )


@pytest.mark.parametrize(
    "holds, fails",
    [
        ("<n1> (<urn:p>|<urn:q>) <n2>", "<n1> (<urn:p>|<urn:q>) <n3>"),
        ("<n1> <urn:p>/<urn:q> <n3>", "<n2> <urn:p>/<urn:q> <n3>"),
        ("<n1> <urn:p>+ <n2>", "<n2> <urn:p>+ <n1>"),
        ("<n3> ^<urn:q> <n2>", "<n2> ^<urn:q> <n3>"),
    ],
)
def test_ask_path_between_constants(chain, holds, fails):
    """An ASK arm with no variable but a path predicate walks the path
    between its two constants."""
    assert sparql_query(chain, f"ASK {{ {holds} }}") is True
    assert sparql_query(chain, f"ASK {{ {fails} }}") is False


@pytest.mark.parametrize(
    "path, start, end, absent",
    [
        (["^urn:q"], "n3", "n2", "n1"),
        (["urn:p", "^urn:p"], "n1", "n1", "n2"),
        (["^urn:q", "^urn:p"], "n3", "n1", "n2"),
    ],
)
def test_property_path_inverse_last_step_obj_end(
    chain, path, start, end, absent
):
    """A path ending in an inverse hop puts `end` in the subject slot;
    an IRI end given as an Obj answers like the same end as a string."""
    from triplestore_spark.dsl import resource

    for e, n in ((end, 1), (absent, 0)):
        got = property_path(chain, path, start=start, end=resource(e))
        assert got.count() == n
        assert rows(got) == rows(property_path(chain, path, start=start, end=e))


def test_construct(g):
    text = """
    CONSTRUCT { ?e kg:mentionedBy ?d }
    WHERE { ?d kg:mentions ?e . ?d kg:source src:web }
    """
    got = sparql_query(g, text)
    want = bgp_construct(
        g,
        [("?d", "kg:mentions", "?e"), ("?d", "kg:source", "src:web")],
        [("?e", "kg:mentionedBy", "?d")],
    )
    assert rows(got.select(*sorted(got.columns))) == rows(
        want.select(*sorted(want.columns))
    )


def test_construct_constant_object_literal(g):
    got = sparql_query(
        g,
        'CONSTRUCT { ?d kg:flag "web"^^xsd:string } '
        "WHERE { ?d kg:source src:web }",
    )
    r = got.collect()
    assert len(r) == 1
    row = r[0]
    assert row["object_value"] == "web"
    assert row["object_type"] == "xsd:string"


def test_describe(g):
    got = sparql_query(g, "DESCRIBE <e:spark>")
    want = g.describe("e:spark")
    assert rows(got) == rows(want)
    assert len(rows(got)) > 0


# ------------------------------------------------- BIND / OPTIONAL-FILTER


def test_bind_arith_compiles_to_engine(g):
    got = g.sparql(
        "SELECT ?d ?w2 WHERE { ?d kg:words ?w . "
        "BIND(xsd:integer(?w) * 2 AS ?w2) }"
    )
    want = bgp_match(
        g,
        [("?d", "kg:words", "?w")],
        bind={"?w2": ("arith", "*", ("cast", "?w"), ("num", 2),
                      S.XSD_INTEGER)},
    ).select("d", "w2")
    assert got.columns == want.columns
    assert rows(got) == rows(want)
    # values: typed literal node keys, exact integer re-encode
    assert ("<doc:1>", '"240"^^<xsd:integer>') in rows(got)


def test_bind_concat_str(g):
    got = g.sparql(
        'SELECT ?label WHERE { ?e kg:name ?n . ?e rdf:type kg:Engine . '
        'BIND(CONCAT("name=", STR(?n)) AS ?label) }'
    )
    vals = sorted(r[0] for r in got.collect())
    assert vals == [
        '"name=Duck"^^<>', '"name=Etincelle"^^<>', '"name=Spark"^^<>'
    ]


def test_bind_sequential_scope(g):
    """A later BIND reads an earlier one (SPARQL sequential scope)."""
    got = g.sparql(
        "SELECT ?d ?b WHERE { ?d kg:words ?w . "
        "BIND(xsd:integer(?w) + 1 AS ?a) "
        "BIND(xsd:integer(?a) * 10 AS ?b) }"
    )
    assert ("<doc:2>", '"810"^^<xsd:integer>') in rows(got)


def test_bind_null_on_unmatched_optional(g):
    """Error-as-unbound: arithmetic over an OPTIONAL variable binds
    NULL on rows where the optional arm did not match."""
    got = g.sparql(
        "SELECT ?d ?w2 WHERE { ?d kg:mentions ?e . "
        "OPTIONAL { ?d kg:words ?w } "
        "BIND(xsd:integer(?w) * 2 AS ?w2) }"
    )
    by_doc = {}
    for d, w2 in rows(got):
        by_doc.setdefault(d, set()).add(w2)
    assert by_doc["_:b0"] == {None}  # b0 has no kg:words
    assert by_doc["<doc:1>"] == {'"240"^^<xsd:integer>'}


def test_optional_filter_conditions_binding_not_survival(g):
    """FILTER inside OPTIONAL decides whether the group binds, never
    whether the required row survives (SPARQL 8.3)."""
    got = g.sparql(
        "SELECT ?d ?w WHERE { ?d kg:mentions ?e . "
        "OPTIONAL { ?d kg:words ?w FILTER(xsd:integer(?w) > 100) } }"
    )
    r = rows(got)
    # doc:2 (words=80, fails the filter) SURVIVES with ?w null
    assert ("<doc:2>", None) in r
    # doc:1 (words=120) binds
    assert ("<doc:1>", '"120"^^<xsd:integer>') in r
    # and matches the programmatic optional-dict form
    want = bgp_match(
        g,
        [("?d", "kg:mentions", "?e")],
        optional=[{
            "patterns": [("?d", "kg:words", "?w")],
            "filters": [("?w", ">", 100, S.XSD_INTEGER)],
        }],
    ).select("d", "w")
    assert r == rows(want)


def test_offset_with_order_by(g):
    got = g.sparql(
        "SELECT ?d ?w WHERE { ?d kg:words ?w } "
        "ORDER BY xsd:integer(?w) LIMIT 2 OFFSET 1"
    )
    assert [tuple(r) for r in got.collect()] == [
        ("<doc:1>", '"120"^^<xsd:integer>'),
        ("<doc:3>", '"220"^^<xsd:integer>'),
    ]
    # OFFSET before LIMIT parses the same
    got2 = g.sparql(
        "SELECT ?d ?w WHERE { ?d kg:words ?w } "
        "ORDER BY xsd:integer(?w) OFFSET 1 LIMIT 2"
    )
    assert [tuple(r) for r in got2.collect()] == [
        ("<doc:1>", '"120"^^<xsd:integer>'),
        ("<doc:3>", '"220"^^<xsd:integer>'),
    ]


def test_aggregate_offset_without_distinct(g):
    """OFFSET must apply to aggregate queries even when DISTINCT is
    absent (ADVICE r6, high: offset was silently dropped unless the
    DISTINCT late-modifier path was taken)."""
    base = g.sparql(
        "SELECT ?e (COUNT(?d) AS ?n) WHERE { ?d kg:mentions ?e } "
        "GROUP BY ?e ORDER BY ?e"
    ).collect()
    got = g.sparql(
        "SELECT ?e (COUNT(?d) AS ?n) WHERE { ?d kg:mentions ?e } "
        "GROUP BY ?e ORDER BY ?e LIMIT 5 OFFSET 1"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in base[1:6]]
    assert len(got) == len(base) - 1  # offset actually skipped a row
    # and through the UNION aggregate branch
    base_u = g.sparql(
        "SELECT ?e (COUNT(?d) AS ?n) WHERE { { ?d kg:mentions ?e } "
        "UNION { ?e rdf:type ?t } } GROUP BY ?e ORDER BY ?e"
    ).collect()
    got_u = g.sparql(
        "SELECT ?e (COUNT(?d) AS ?n) WHERE { { ?d kg:mentions ?e } "
        "UNION { ?e rdf:type ?t } } GROUP BY ?e ORDER BY ?e "
        "LIMIT 5 OFFSET 1"
    ).collect()
    assert [tuple(r) for r in got_u] == [tuple(r) for r in base_u[1:6]]


def test_describe_var_iri_bnode_no_collapse(spark):
    """DESCRIBE ?v must not conflate an IRI <x> with a bnode _:x that
    shares the bare name (ADVICE r6, medium)."""
    tw = [
        ("x", True, "kg:note", "lit", "bnode-subj", "xsd:string", ""),
        ("x", False, "kg:note", "lit", "iri-subj", "xsd:string", ""),
        ("doc:9", False, "kg:ref", "res", "x", "", ""),
        ("doc:9", False, "kg:refb", "bnode", "x", "", ""),
    ]
    gg = RDFGraph(spark.createDataFrame(tw, S.TRIPLE_SCHEMA), cache=False)
    got = rows(
        sparql_query(gg, "DESCRIBE ?v WHERE { doc:9 kg:ref ?v }").select(
            "subject", "subject_is_bnode", "predicate", "object_kind",
            "object_value",
        )
    )
    # the IRI x: its subject row (non-bnode) + the kg:ref object row;
    # NOT the bnode-subject note, NOT the bnode object reference
    assert got == [
        ("doc:9", False, "kg:ref", "res", "x"),
        ("x", False, "kg:note", "lit", "iri-subj"),
    ]


def test_bind_parse_errors_named(g):
    cases = [
        ("SELECT * WHERE { ?d kg:words ?w . BIND(1 AS ?w) }",
         "already bound"),
        ("SELECT * WHERE { ?d kg:words ?w . "
         "BIND(xsd:integer(?w) + 1 AS ?a) BIND(2 AS ?a) }",
         "already bound"),
        ("SELECT * WHERE { ?s ?p ?o } LIMIT 1 LIMIT 2", "duplicate"),
        ("SELECT * WHERE { ?s ?p ?o } ORDER BY ?s OFFSET 1 OFFSET 2",
         "duplicate"),
    ]
    for text, needle in cases:
        with pytest.raises((SparqlParseError, ValueError), match=needle):
            sparql_query(g, text).collect()


# ------------------------------------------------------------ errors


def test_unsupported_constructs_named(g):
    cases = [
        # BIND exists now, but only over the typed subset — float
        # arithmetic stays refused (engine-specific float formatting
        # would silently diverge from the Go-parity constructors)
        ("SELECT * WHERE { ?s kg:words ?w . "
         "BIND(xsd:double(?w) + 1 AS ?y) }", "xsd:integer only"),
        ("SELECT * WHERE { ?s kg:words ?w . "
         "BIND(xsd:integer(?w) AS ?y) }", "bare cast"),
        ("SELECT * WHERE { ?s kg:words ?w . "
         "BIND(?w + 1 AS ?y) }", "needs a cast"),
        # a nested plain group (no SELECT) still refuses — only
        # subqueries and pure UNION groups may nest
        ("SELECT * WHERE { ?s ?p ?o . { ?a ?b ?c } }",
         "triples with nested"),
        ("SELECT ?a WHERE { ?a kg:m ?x . ?b kg:m ?y "
         "FILTER(?x < ?y) }", "needs a"),
        ("SELECT ?a WHERE { ?a kg:m ?x . ?b kg:m ?y "
         "FILTER(xsd:integer(?x) < xsd:date(?y)) }", "different"),
        ("SELECT * WHERE { ?s ?p ?o } OFFSET 5", "OFFSET"),
        ("BASE <http://x/> SELECT * WHERE { ?s ?p ?o }", "BASE"),
        ("SELECT * WHERE { ?s ?p ?o } HAVING (?n > 1)", "HAVING"),
    ]
    for text, needle in cases:
        with pytest.raises(SparqlParseError, match=needle):
            sparql_query(g, text)


def test_parse_errors_carry_position():
    with pytest.raises(SparqlParseError, match="line 2"):
        parse_sparql("SELECT *\nWHERE { ?s ?p }")


def test_var_dollar_alias():
    q = parse_sparql("SELECT $x WHERE { $x kg:a ?y }")
    assert q["projection"] == ["x"]
    assert q["where"]["patterns"] == [("?x", "kg:a", "?y")]


def test_values_undef_and_literals():
    q = parse_sparql(
        'SELECT * WHERE { ?d kg:words ?n VALUES ?n { "80"^^xsd:integer } }'
    )
    assert q["where"]["values"] == {"?n": ['"80"^^<xsd:integer>']}


def test_bnode_object_term():
    q = parse_sparql("SELECT * WHERE { ?s kg:ref _:b0 }")
    obj = q["where"]["patterns"][0][2]
    assert obj == Obj(S.KIND_BNODE, "b0")


# ------------------------------------------------------------ UPDATE


def _source_with(spark, rows_):
    from triplestore_spark.operators.graph import TripleSource

    src = TripleSource(spark)
    return src.add_df(spark.createDataFrame(rows_, S.TRIPLE_SCHEMA))


def test_update_insert_and_delete_data(spark):
    src = _source_with(spark, HAND)
    n0 = len(src.snapshot().df.collect())
    src.update(
        'INSERT DATA { doc:9 kg:mentions e:duck . '
        'doc:9 kg:words "7"^^xsd:integer }'
    )
    g = src.snapshot()
    assert g.sparql("ASK { doc:9 kg:mentions e:duck }") is True
    assert len(g.df.collect()) == n0 + 2
    src.update("DELETE DATA { doc:9 kg:mentions e:duck }")
    g2 = src.snapshot()
    assert g2.sparql("ASK { doc:9 kg:mentions e:duck }") is False
    assert len(g2.df.collect()) == n0 + 1


def test_update_insert_data_bnode_subject(spark):
    src = _source_with(spark, HAND)
    src.update("INSERT DATA { _:nb kg:mentions e:duck }")
    rows_ = src.snapshot().df.where(
        "subject = 'nb' AND subject_is_bnode"
    ).collect()
    assert len(rows_) == 1


def test_update_modify_where(spark):
    src = _source_with(spark, HAND)
    # rewrite kg:source web -> archived flag, same pre-state bindings
    src.update(
        """
        DELETE { ?d kg:source src:web }
        INSERT { ?d kg:source src:archive . ?d kg:flag "old" }
        WHERE { ?d kg:source src:web }
        """
    )
    g = src.snapshot()
    assert g.sparql("ASK { ?d kg:source src:web }") is False
    assert g.sparql("ASK { doc:1 kg:source src:archive }") is True
    assert g.sparql('ASK { doc:1 kg:flag "old" }') is True


def test_update_delete_where_shorthand(spark):
    src = _source_with(spark, HAND)
    src.update("DELETE WHERE { ?d kg:mentions ?e }")
    g = src.snapshot()
    assert g.sparql("ASK { ?d kg:mentions ?e }") is False
    # other predicates untouched
    assert g.sparql("ASK { ?d kg:source ?s }") is True


def test_update_pre_state_semantics(spark):
    """DELETE and INSERT both instantiate against the PRE-state: an
    insert that would also match the delete pattern is not deleted."""
    src = _source_with(spark, HAND)
    src.update(
        """
        DELETE { ?d kg:source src:web }
        INSERT { ?d kg:source src:web2 }
        WHERE { ?d kg:source src:web }
        """
    )
    g = src.snapshot()
    assert g.sparql("ASK { doc:1 kg:source src:web2 }") is True


def test_update_statement_sequence_and_time_travel(spark):
    src = _source_with(spark, HAND)
    n_ops0 = len(src)
    src.update(
        "INSERT DATA { doc:9 kg:words 1 } ; "
        "DELETE DATA { doc:9 kg:words 1 }"
    )
    assert len(src) == n_ops0 + 2
    mid = src.snapshot_at(n_ops0 + 1)
    assert mid.sparql("ASK { doc:9 kg:words 1 }") is True
    assert src.snapshot().sparql("ASK { doc:9 kg:words 1 }") is False


def test_update_refusals(spark):
    from triplestore_spark.operators.sparql import parse_sparql_update

    with pytest.raises(SparqlParseError, match="constants only"):
        parse_sparql_update("INSERT DATA { ?d kg:a e:x }")
    with pytest.raises(SparqlParseError, match="named-graph"):
        parse_sparql_update("WITH <g> DELETE { ?s ?p ?o } WHERE { ?s ?p ?o }")
    with pytest.raises(SparqlParseError, match="property paths"):
        parse_sparql_update("DELETE WHERE { ?s kg:a/kg:b ?o }")


# ------------------------------------------------------------ subqueries


def test_subquery_joins_outer_pattern(g):
    got = g.sparql(
        "SELECT ?e ?n ?cnt WHERE { ?e kg:name ?n . "
        "{ SELECT ?e (COUNT(?d) AS ?cnt) WHERE { ?d kg:mentions ?e } "
        "GROUP BY ?e } }"
    )
    # aggregate columns come back as canonical node keys
    assert ("<e:duck>", '"Duck"^^<xsd:string>',
            '"2"^^<xsd:integer>') in rows(got)
    assert ("<e:spark>", '"Spark"^^<xsd:string>',
            '"3"^^<xsd:integer>') in rows(got)
    # differential vs the manual composition
    inner = bgp_select(
        g, [("?d", "kg:mentions", "?e")],
        group_by=["?e"], aggregates={"cnt": ("count", "?d")},
    ).select(
        "e",
        F.concat(F.lit('"'), F.col("cnt").cast("string"),
                 F.lit('"^^<xsd:integer>')).alias("cnt"),
    )
    want = bgp_match(g, [("?e", "kg:name", "?n")], joins=[inner])
    assert rows(got) == rows(want.select("e", "n", "cnt"))


def test_subquery_only_group_with_filter_and_bind(g):
    got = g.sparql(
        "SELECT ?e ?c2 WHERE { "
        "{ SELECT ?e (COUNT(?d) AS ?cnt) WHERE { ?d kg:mentions ?e } "
        "GROUP BY ?e } "
        "FILTER(?cnt >= 3) BIND(xsd:integer(?cnt) * 10 AS ?c2) }"
    )
    assert rows(got) == [("<e:spark>", '"30"^^<xsd:integer>')]


def test_subquery_typed_sum(g):
    got = g.sparql(
        "SELECT ?e ?tot WHERE { ?e rdf:type kg:Engine . "
        "{ SELECT ?e (SUM(xsd:integer(?w)) AS ?tot) WHERE "
        "{ ?d kg:words ?w . ?d kg:mentions ?e } GROUP BY ?e } }"
    )
    assert rows(got) == [
        ("<e:duck>", '"300"^^<xsd:integer>'),
        ("<e:spark>", '"200"^^<xsd:integer>'),
    ]


def test_subquery_nested(g):
    got = g.sparql(
        "SELECT ?e ?cnt WHERE { ?e rdf:type kg:Engine . "
        "{ SELECT ?e ?cnt WHERE { "
        "{ SELECT ?e (COUNT(?d) AS ?cnt) WHERE { ?d kg:mentions ?e } "
        "GROUP BY ?e } } } }"
    )
    assert rows(got) == [
        ("<e:duck>", '"2"^^<xsd:integer>'),
        ("<e:spark>", '"3"^^<xsd:integer>'),
    ]


def test_subquery_refusals_named(g):
    cases = [
        # inside UNION arms
        ("SELECT * WHERE { { ?x kg:name ?y . "
         "{ SELECT ?e WHERE { ?d kg:mentions ?e } } } UNION "
         "{ ?x kg:label ?y } }", "UNION"),
        # AVG at the boundary
        ("SELECT ?e WHERE { ?e rdf:type kg:Engine . "
         "{ SELECT ?e (AVG(xsd:integer(?w)) AS ?a) WHERE "
         "{ ?d kg:words ?w . ?d kg:mentions ?e } GROUP BY ?e } }",
         "AVG"),
        # double-typed aggregate at the boundary
        ("SELECT ?e WHERE { ?e rdf:type kg:Engine . "
         "{ SELECT ?e (MAX(xsd:double(?w)) AS ?m) WHERE "
         "{ ?d kg:words ?w . ?d kg:mentions ?e } GROUP BY ?e } }",
         "re-encoded"),
        # bare SELECT without braces
        ("SELECT * WHERE { ?s ?p ?o . SELECT ?e WHERE "
         "{ ?d kg:mentions ?e } }", "braces"),
    ]
    for text, needle in cases:
        with pytest.raises(SparqlParseError, match=needle):
            sparql_query(g, text)


def test_subquery_group_concat_simple_literal(g):
    got = g.sparql(
        'SELECT ?e ?names WHERE { ?e rdf:type kg:Engine . '
        '{ SELECT ?e (GROUP_CONCAT(?n ; SEPARATOR="|") AS ?names) '
        "WHERE { ?e kg:name ?n } GROUP BY ?e } }"
    )
    r = dict(rows(got))
    # the concat of node keys, wrapped as a simple literal (raw value,
    # same unescaped convention as every okey; parse_node_key's greedy
    # group recovers it exactly)
    assert r["<e:duck>"] == '""Duck"^^<xsd:string>"^^<>'
    assert r["<e:spark>"] == \
        '""Etincelle"@fr|"Spark"^^<xsd:string>"^^<>'


def test_union_aggregation_front_door(g):
    """Aggregation over UNION compiles to bgp_union's aggregation
    path (bag union feeding one hash aggregation)."""
    got = g.sparql(
        "SELECT ?e (COUNT(?d) AS ?cnt) WHERE { "
        "{ ?d kg:mentions ?e . ?d kg:source src:web } UNION "
        "{ ?d kg:mentions ?e . ?d kg:source src:book } } "
        "GROUP BY ?e ORDER BY ?e"
    )
    assert [tuple(r) for r in got.collect()] == [
        ("<e:duck>", 1), ("<e:spark>", 2),
    ]
    want = bgp_union(
        g,
        [
            [("?d", "kg:mentions", "?e"), ("?d", "kg:source", "src:web")],
            [("?d", "kg:mentions", "?e"),
             ("?d", "kg:source", "src:book")],
        ],
        group_by=["?e"],
        aggregates={"cnt": ("count", "?d")},
        order_by=["?e"],
    )
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in want.collect()]


# --------------------------------------------- builtin filter functions


def test_builtin_filter_functions(g):
    cases = [
        ('FILTER STRSTARTS(?n, "Sp")', {"<e:spark>"}),
        ('FILTER(STRENDS(?n, "ck"))', {"<e:duck>"}),
        ('FILTER(CONTAINS(?n, "cell"))', {"<e:spark>"}),
        ('FILTER(LANG(?n) = "fr")', {"<e:spark>"}),
        ('FILTER LANGMATCHES(LANG(?n), "FR")', {"<e:spark>"}),
        ('FILTER LANGMATCHES(LANG(?n), "*")', {"<e:spark>"}),
        ('FILTER(DATATYPE(?n) = xsd:string)', {"<e:duck>", "<e:spark>"}),
        ('FILTER(STRLEN(?n) > 5)', {"<e:spark>"}),
        ('FILTER(STRLEN(?n) <= 5)', {"<e:duck>", "<e:spark>"}),
    ]
    for f, want in cases:
        got = g.sparql(f"SELECT ?e WHERE {{ ?e kg:name ?n {f} }}")
        assert {r["e"] for r in got.collect()} == want, f


def test_builtin_term_kind_tests(g):
    got = g.sparql(
        "SELECT ?s WHERE { ?s kg:mentions ?e FILTER isBlank(?s) }"
    )
    assert {r["s"] for r in got.collect()} == {"_:b0"}
    neg = g.sparql(
        "SELECT ?s WHERE { ?s kg:mentions ?e FILTER(!isBlank(?s)) }"
    )
    assert {r["s"] for r in neg.collect()} == {
        "<doc:1>", "<doc:2>", "<doc:3>"
    }
    lit = g.sparql(
        "SELECT DISTINCT ?p WHERE { ?s ?p ?o FILTER isLiteral(?o) }"
    )
    assert {r["p"] for r in lit.collect()} == {
        "<kg:words>", "<kg:name>"
    }
    # complement partition: isIRI + !isIRI == everything
    a = g.sparql("SELECT ?s ?o WHERE { ?s kg:mentions ?o FILTER isIRI(?s) }")
    b = g.sparql("SELECT ?s ?o WHERE { ?s kg:mentions ?o FILTER(!isIRI(?s)) }")
    c = g.sparql("SELECT ?s ?o WHERE { ?s kg:mentions ?o }")
    assert sorted(rows(a) + rows(b)) == rows(c)


def test_builtin_filter_refusals(g):
    cases = [
        ("SELECT ?e WHERE { ?e kg:name ?n FILTER(!STRSTARTS(?n, \"S\")) }",
         "negated STRSTARTS"),
        ("SELECT ?e WHERE { ?e kg:name ?n FILTER(LANG(?n) != \"fr\") }",
         "supports ="),
        ("SELECT ?e WHERE { ?e kg:name ?n FILTER(STRLEN(?n) > ?x) }",
         "non-negative integer"),
    ]
    for text, needle in cases:
        with pytest.raises(SparqlParseError, match=needle):
            sparql_query(g, text)


def test_bind_if_coalesce(g):
    got = g.sparql(
        'SELECT ?e ?best WHERE { ?e rdf:type kg:Engine . '
        'OPTIONAL { ?e kg:name ?fr FILTER(LANG(?fr) = "fr") } '
        'OPTIONAL { ?e kg:name ?en FILTER(DATATYPE(?en) = xsd:string) } '
        'BIND(COALESCE(?fr, ?en, "none") AS ?best) }'
    )
    assert rows(got) == [
        ("<e:duck>", '"Duck"^^<xsd:string>'),
        ("<e:spark>", '"Etincelle"@fr'),
    ]
    got2 = g.sparql(
        'SELECT ?d ?size WHERE { ?d kg:words ?w . '
        'BIND(IF(xsd:integer(?w) > 100, "big", "small") AS ?size) }'
    )
    assert rows(got2) == [
        ("<doc:1>", '"big"^^<xsd:string>'),
        ("<doc:2>", '"small"^^<xsd:string>'),
        ("<doc:3>", '"big"^^<xsd:string>'),
    ]
    # IF with a builtin-test condition
    got3 = g.sparql(
        'SELECT ?e ?k WHERE { ?e kg:name ?n . '
        'BIND(IF(LANGMATCHES(LANG(?n), "fr"), "localized", ?n) AS ?k) }'
    )
    r = dict(rows(got3))
    assert r["<e:spark>"] in (
        '"localized"^^<xsd:string>', '"Spark"^^<xsd:string>'
    )


def test_path_alt_of_sequences_closure(g):
    """(p1|(p2/p3))* through the text layer — the alternation branch
    that is a sequence compiles to the engine's group-alternative
    syntax."""
    # kg:sub|(kg:sub/kg:sub) closure from kg:Engine reaches the whole
    # chain either way
    got = sparql_query(
        g, "SELECT ?c WHERE { kg:Engine (kg:sub|(kg:sub/kg:sub))* ?c }"
    )
    assert sorted(r["c"] for r in got.collect()) == [
        "<kg:Engine>", "<kg:System>", "<kg:Thing>"
    ]
    with pytest.raises(ValueError, match="needs a quantifier"):
        sparql_query(
            g,
            "SELECT ?c WHERE { kg:Engine (kg:sub|(kg:sub/kg:sub)) ?c }",
        )


# n1 -a-> n2 -b-> n3 -a-> n4 -b-> n5, n3 -c-> n6, n1 -d-> n7: one
# graph, once with compact names and once with full IRIs
PATH_EDGES = [
    ("n1", "a", "n2"), ("n2", "b", "n3"), ("n3", "a", "n4"),
    ("n4", "b", "n5"), ("n3", "c", "n6"), ("n1", "d", "n7"),
]


def _named_graph(spark, ns):
    rows = [
        (ns + s, False, ns + p, "res", ns + o, "", "")
        for s, p, o in PATH_EDGES
    ]
    return rows, RDFGraph(
        spark.createDataFrame(rows, S.TRIPLE_SCHEMA), cache=False
    )


def test_full_iri_paths_match_compact_paths(spark):
    """Every path shape answers the same over full IRIs as over compact
    names: SPARQL hands the engine parsed steps, so the '/' inside
    'http://ex.org/a' is never read as a hop. (A printed '(a/b)' group
    used to split there, into hops 'http:', 'ex.org', 'a', ...)"""
    import duckdb
    import pandas as pd

    _, compact = _named_graph(spark, "kg:")
    iri_rows, iri = _named_graph(spark, "http://ex.org/")
    shapes = [
        ("?x", "{p}a/{p}b"),
        ("{p}n1", "({p}a/{p}b)*"),
        ("{p}n5", "^({p}a/{p}b)*"),
        ("{p}n1", "({p}a|({p}b/{p}c))+"),
        ("?x", "!({p}a|{p}b)"),
        ("{p}n1", "{p}a?"),
        ("?x", "^({p}a|{p}b)"),
    ]
    answers = []
    for subj, path in shapes:
        want = rows(sparql_query(
            compact,
            "SELECT * WHERE { %s %s ?y }"
            % (subj.format(p="kg:"), path.format(p="kg:")),
        ))
        got = rows(sparql_query(
            iri,
            "PREFIX ex: <http://ex.org/> SELECT * WHERE { %s %s ?y }"
            % (subj.format(p="ex:"), path.format(p="ex:")),
        ))
        got = [
            tuple(v.replace("<http://ex.org/", "<kg:") for v in r)
            for r in got
        ]
        assert got == want, (subj, path)
        answers.append(want)
    assert all(answers)
    assert answers[1] == [("<kg:n1>",), ("<kg:n3>",), ("<kg:n5>",)]
    assert answers[2] == [("<kg:n1>",), ("<kg:n3>",), ("<kg:n5>",)]
    # (a/b)* over full IRIs against DuckDB's recursive CTE
    pred = parse_sparql(
        "PREFIX ex: <http://ex.org/> "
        "SELECT * WHERE { ex:n1 (ex:a/ex:b)* ?y }"
    )["where"]["patterns"][0][1]
    con = duckdb.connect()
    con.register("triples", pd.DataFrame(iri_rows, columns=S.TRIPLE_FIELDS))
    sql = property_path_sql(pred.steps, start="http://ex.org/n1")
    duck = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert duck == [
        ("<http://ex.org/n1>",), ("<http://ex.org/n3>",),
        ("<http://ex.org/n5>",),
    ]


def test_select_expressions(g):
    """(expr AS ?x) in the projection — a trailing BIND."""
    got = g.sparql(
        "SELECT ?d (xsd:integer(?w) * 2 AS ?w2) WHERE { ?d kg:words ?w }"
    )
    assert got.columns == ["d", "w2"]
    assert rows(got) == [
        ("<doc:1>", '"240"^^<xsd:integer>'),
        ("<doc:2>", '"160"^^<xsd:integer>'),
        ("<doc:3>", '"440"^^<xsd:integer>'),
    ]
    # differential vs explicit BIND
    want = g.sparql(
        "SELECT ?d ?w2 WHERE { ?d kg:words ?w . "
        "BIND(xsd:integer(?w) * 2 AS ?w2) }"
    )
    assert rows(got) == rows(want)
    # inside a subquery, with the outer join on the bound column
    sub = g.sparql(
        "SELECT ?d ?w2 WHERE { "
        "{ SELECT ?d (xsd:integer(?w) + 1 AS ?w2) WHERE "
        "{ ?d kg:words ?w } } }"
    )
    assert ("<doc:2>", '"81"^^<xsd:integer>') in rows(sub)


def test_select_expressions_refusals(g):
    cases = [
        ("SELECT ?e (STR(?e) AS ?x) (COUNT(?d) AS ?n) WHERE "
         "{ ?d kg:mentions ?e } GROUP BY ?e", "aggregation"),
        ("SELECT (STR(?d) AS ?x) WHERE { { ?d kg:words ?w } UNION "
         "{ ?d kg:mentions ?e } }", "UNION"),
        ("SELECT (STR(?w) AS ?w) WHERE { ?d kg:words ?w }",
         "already bound"),
    ]
    for text, needle in cases:
        with pytest.raises((SparqlParseError, ValueError), match=needle):
            sparql_query(g, text).collect()


def test_describe_var_where(g):
    """DESCRIBE ?v WHERE { group }: every triple touching any node
    the variable binds — one semi-join per role, no driver collect;
    equals the union of single-node describes."""
    got = g.sparql(
        "DESCRIBE ?e WHERE { ?d kg:mentions ?e . ?d kg:source src:web }"
    )
    want = g.describe("e:spark").distinct()   # the only web-mention
    assert rows(got) == rows(want)
    # multi-node binding: union over both engines' describes
    got2 = g.sparql("DESCRIBE ?e WHERE { ?e rdf:type kg:Engine }")
    want2 = g.describe("e:spark").unionByName(
        g.describe("e:duck")
    ).distinct()
    assert rows(got2) == rows(want2)
    with pytest.raises(SparqlParseError, match="not bound"):
        sparql_query(g, "DESCRIBE ?x WHERE { ?e rdf:type kg:Engine }")


def test_construct_with_bind(g):
    """CONSTRUCT templates instantiate over BIND-computed variables
    like any matched one (bound keys are canonical)."""
    out = sparql_query(
        g,
        'CONSTRUCT { ?d kg:sizeClass ?size } WHERE { ?d kg:words ?w . '
        'BIND(IF(xsd:integer(?w) > 100, "big", "small") AS ?size) }',
    )
    got = sorted(
        tuple(r)[:7] for r in out.select(*S.TRIPLE_FIELDS).collect()
    )
    assert got == [
        ("doc:1", False, "kg:sizeClass", "lit", "big", "xsd:string", ""),
        ("doc:2", False, "kg:sizeClass", "lit", "small", "xsd:string", ""),
        ("doc:3", False, "kg:sizeClass", "lit", "big", "xsd:string", ""),
    ]


def test_bound_filters(g):
    """BOUND/!BOUND apply AFTER the optional joins — the classic
    negative-optional idiom, and its positive twin partitions the
    solution set."""
    neg = g.sparql(
        "SELECT ?d WHERE { ?d kg:words ?w . "
        "OPTIONAL { ?d kg:source ?s } FILTER(!BOUND(?s)) }"
    )
    assert sorted(r["d"] for r in neg.collect()) == ["<doc:3>"]
    pos = g.sparql(
        "SELECT ?d WHERE { ?d kg:words ?w . "
        "OPTIONAL { ?d kg:source ?s } FILTER BOUND(?s) }"
    )
    assert sorted(r["d"] for r in pos.collect()) == [
        "<doc:1>", "<doc:2>"
    ]
    # !BOUND == MINUS on the same shape
    minus = g.sparql(
        "SELECT ?d WHERE { ?d kg:words ?w "
        "MINUS { ?d kg:source ?s } }"
    )
    assert rows(neg) == rows(minus)
    with pytest.raises(ValueError, match="not in scope"):
        sparql_query(
            g, "SELECT ?d WHERE { ?d kg:words ?w FILTER BOUND(?zz) }"
        ).collect()


def test_bind_string_functions(g):
    got = g.sparql(
        'SELECT ?e (UCASE(?n) AS ?u) (SUBSTR(?n, 1, 3) AS ?s3) '
        '(REPLACE(?n, "a", "@") AS ?r) (STRLEN(?n) AS ?len) '
        "WHERE { ?e kg:name ?n FILTER(DATATYPE(?n) = xsd:string) }"
    )
    assert rows(got) == [
        ("<e:duck>", '"DUCK"^^<>', '"Duc"^^<>', '"Duck"^^<>',
         '"4"^^<xsd:integer>'),
        ("<e:spark>", '"SPARK"^^<>', '"Spa"^^<>', '"Sp@rk"^^<>',
         '"5"^^<xsd:integer>'),
    ]
    # SUBSTR without length runs to the end; LCASE; STRLEN composes
    # with integer arithmetic downstream
    got2 = g.sparql(
        "SELECT ?e ?l2 WHERE { ?e kg:name ?n "
        'FILTER(DATATYPE(?n) = xsd:string) '
        "BIND(LCASE(?n) AS ?lo) BIND(SUBSTR(?lo, 2) AS ?tail) "
        "BIND(STRLEN(?tail) AS ?tl) "
        "BIND(xsd:integer(?tl) + 1 AS ?l2) }"
    )
    assert rows(got2) == [
        ("<e:duck>", '"4"^^<xsd:integer>'),
        ("<e:spark>", '"5"^^<xsd:integer>'),
    ]


def test_filter_in_not_in(g):
    """IN / NOT IN: sameTerm membership over canonical node keys —
    partitioning the solution set, typed literals matching on exact
    tag identity."""
    a = g.sparql(
        "SELECT ?d ?e WHERE { ?d kg:mentions ?e "
        "FILTER(?e IN (<e:duck>)) }"
    )
    b = g.sparql(
        "SELECT ?d ?e WHERE { ?d kg:mentions ?e "
        "FILTER(?e NOT IN (<e:duck>)) }"
    )
    both = g.sparql("SELECT ?d ?e WHERE { ?d kg:mentions ?e }")
    assert sorted(rows(a) + rows(b)) == rows(both)
    assert all(r[1] == "<e:duck>" for r in rows(a)) and rows(a)
    typed = g.sparql(
        'SELECT ?d WHERE { ?d kg:words ?w '
        'FILTER(?w IN ("120"^^xsd:integer, "220"^^xsd:integer)) }'
    )
    assert sorted(r["d"] for r in typed.collect()) == [
        "<doc:1>", "<doc:3>"
    ]
    # VALUES and IN agree on a single variable
    vals = g.sparql(
        "SELECT ?d ?e WHERE { ?d kg:mentions ?e "
        "VALUES ?e { <e:duck> } }"
    )
    assert rows(a) == rows(vals)


def test_bind_strbefore_strafter(g):
    got = g.sparql(
        'SELECT ?d (STRBEFORE(?sd, ":") AS ?pre) '
        '(STRAFTER(?sd, ":") AS ?post) (STRAFTER(?sd, "zzz") AS ?none) '
        "WHERE { ?d kg:words ?w BIND(STR(?d) AS ?sd) }"
    )
    assert rows(got) == [
        ("<doc:1>", '"doc"^^<>', '"1"^^<>', '""^^<>'),
        ("<doc:2>", '"doc"^^<>', '"2"^^<>', '""^^<>'),
        ("<doc:3>", '"doc"^^<>', '"3"^^<>', '""^^<>'),
    ]


def test_describe_names_nodes_like_the_lookups(
    spark, uncheckpointed_persisted
):
    """DESCRIBE <x> describes the IRI x only: not a bnode subject _:x,
    not a bnode object _:x (DESCRIBE ?v already kept them apart); over
    a plain triple DataFrame it leaves nothing cached."""
    tw = [
        ("x", False, "kg:note", "lit", "iri", "xsd:string", ""),
        ("x", True, "kg:note", "lit", "bnode", "xsd:string", ""),
        ("d", False, "kg:ref", "bnode", "x", "", ""),
    ]
    df = spark.createDataFrame(tw, S.TRIPLE_SCHEMA)
    cache = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache.isEmpty()
    cols = ["subject", "subject_is_bnode", "predicate", "object_value"]
    got = rows(sparql_query(df, "DESCRIBE <x>").select(*cols))
    assert uncheckpointed_persisted() == []
    if was_empty:
        assert cache.isEmpty()
    assert got == [("x", False, "kg:note", "iri")]
    # a bnode is named the way the lookups name it
    got_b = RDFGraph(df, cache=False).describe(Obj(S.KIND_BNODE, "x"))
    assert rows(got_b.select(*cols)) == [
        ("d", False, "kg:ref", "x"),
        ("x", True, "kg:note", "bnode"),
    ]


def test_hop_scans_keep_a_slash_iri_whole(spark):
    """A predicate IRI holding '/' (urn:x/y) is one hop in every path
    form: the hop scans read it as one IRI, never as a path again."""
    tw = [("n1", False, "urn:x/y", "res", "n2", "", "")]
    g = RDFGraph(spark.createDataFrame(tw, S.TRIPLE_SCHEMA), cache=False)
    for text, want in [
        ("SELECT ?o WHERE { <n1> <urn:x/y> ?o }", [("<n2>",)]),
        ("SELECT ?o WHERE { <n1> (<urn:x/y>|<urn:q>) ?o }", [("<n2>",)]),
        ("SELECT ?s WHERE { <n2> ^<urn:x/y> ?s }", [("<n1>",)]),
        ("SELECT ?o WHERE { <n1> <urn:x/y>+ ?o }", [("<n2>",)]),
    ]:
        assert rows(sparql_query(g, text)) == want, text
