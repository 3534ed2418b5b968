"""Basic graph pattern (BGP) matching and property paths over triples.

The reference's query surface stops at single-pattern point lookups
(source.go:203-220 — the six WithX indexes) plus the fixed-predicate
Tree walk (tree.go). A knowledge-graph builder immediately needs the
next rung: conjunctive patterns ("?doc kg:mentions ?e . ?doc
kg:source src:web") and predicate chains ("?doc kg:mentions/rdf:type
?t"), plus SPARQL-style OPTIONAL groups (left joins) and
FILTER-NOT-EXISTS negation (`anti=`, left-anti joins), with a small
NT-flavored string syntax (parse_bgp) as the front door. This module
adds all of it as pure-Catalyst compositions — each
pattern is a filtered scan of the canonical table (or a materialized
SPO/POS/OSP layout, where constant terms push down onto parquet
stats), and shared variables become hash joins Catalyst is free to
reorder, broadcast, or skew-split under AQE.

Variable bindings are NODE KEYS in the engine's canonical okey
rendering (reference rdf.go:102-113):

    subject var   -> '_:' + subject       (bnode)   | '<' + subject + '>'
    predicate var -> '<' + predicate + '>'
    object var    -> okey (literal / bnode / IRI rendering)

One uniform key space makes cross-position joins exact: an object
variable that binds '<e>' meets a subject variable binding '<e>' with
plain string equality, bnodes stay distinct from IRIs, and
lang-tagged literal identity keeps the reference's datatype-omission
rule for free. `strip_node_key` recovers the raw value.

Scale notes (the part the reference's in-memory maps never face):
- Constant terms are COMPONENT filters, so they reach the parquet
  scan as PushedFilters on a sorted layout (see test_plans).
- Join order seeds from the most-constant pattern and grows only
  through connected patterns; a disconnected BGP is a cartesian
  product and is REFUSED unless allow_product=True.
- No UDFs, no collect: the whole match is one declarative plan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Mapping, NamedTuple, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from triplestore_spark.dsl import Obj
from triplestore_spark.functions.keys import subject_key_expr
from triplestore_spark.operators.graph import (
    RDFGraph,
    as_graph,
    route,
    term_filter,
)
from triplestore_spark.schema import KIND_RESOURCE
from triplestore_spark.session import checkpoint_level, local_frame

Term = Union[str, Obj]
Pattern = tuple[Term, Term, Term]


class PathExpr:
    """Explicit path expression for a pattern's predicate position:
    PathExpr('kg:a/kg:b*') or PathExpr(['kg:a', 'kg:b*']). The string
    form splits steps on '/' outside parentheses; each step takes the
    full property_path step syntax (inverse '^p', alternation 'p1|p2',
    quantifiers 'p*'/'p+'/'p{m,n}', and a quantified SEQUENCE group
    '(p1/p2)*' — closure over the composed relation). A step may also
    be an already parsed _Step, which is how SPARQL hands over its
    paths: parsed, so an IRI's own '/' is never read as a hop. Plain
    string predicates containing path metacharacters ('|', '^', '*',
    '+', '{', '!', '(', or '/' outside '://') are auto-detected —
    PathExpr exists for explicit control and for the rare IRI that
    would misdetect."""

    __slots__ = ("steps",)

    def __init__(self, expr):
        if isinstance(expr, str):
            self.steps = _split_path_expr(expr)
        else:
            self.steps = list(expr)
        if not self.steps:
            raise ValueError(f"PathExpr: empty path {expr!r}")


def _split_path_expr(expr: str) -> list[str]:
    """Split a path string on '/' at parenthesis depth 0 (so a
    sequence group '(a/b)*' stays one step); empty segments drop,
    matching the historical split-on-'/' behavior."""
    out: list[str] = []
    buf: list[str] = []
    depth = 0
    for c in expr:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                raise ValueError(f"path: unbalanced ')' in {expr!r}")
        if c == "/" and depth == 0:
            if buf:
                out.append("".join(buf))
                buf = []
            continue
        buf.append(c)
    if depth != 0:
        raise ValueError(f"path: unbalanced '(' in {expr!r}")
    if buf:
        out.append("".join(buf))
    return out


def _is_path_pred(p) -> bool:
    if isinstance(p, PathExpr):
        return True
    if not isinstance(p, str) or p.startswith("?"):
        return False
    if any(c in p for c in "|^*+{!("):
        return True
    return "/" in p and "://" not in p


def _path_steps(p) -> list[str]:
    return p.steps if isinstance(p, PathExpr) else _split_path_expr(p)


def _is_var(t: Term) -> bool:
    return isinstance(t, str) and t.startswith("?")


def _var(t: Term) -> str:
    name = t[1:]
    if not name:
        raise ValueError("empty variable name '?'")
    return name


def _as_obj(t: Term) -> Obj:
    """A bare string in object position is an IRI constant — the same
    convenience the Tree edge view applies (resource objects)."""
    return t if isinstance(t, Obj) else Obj(KIND_RESOURCE, t)


def strip_node_key(col: Column | str) -> Column:
    """Raw value of a node-key binding: '<iri>' -> iri, '_:b' -> b,
    literals keep their full okey (value+type/lang ARE the identity)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(
            c.startswith("<"), F.substring(c, 2, F.length(c) - 2)
        )
        .when(c.startswith("_:"), F.substring(c, 3, F.length(c) - 2))
        .otherwise(c)
    )


def parse_node_key(c: Column | str):
    """Exact inverse of the node-key rendering: one column of node
    keys -> (is_bnode_subjectable, kind, value, typ, lang) component
    expressions. The okey grammar makes this unambiguous with greedy
    anchored regexes: a datatype IRI cannot contain '>', a lang tag is
    [A-Za-z0-9-]+, and the GREEDY (.*) over the value means the
    terminal '"^^<type>' / '"@lang' is always the real suffix even
    when the value itself contains quotes, '@', or '^^<'."""
    c = F.col(c) if isinstance(c, str) else c
    # (?s): literal values may contain raw newlines (multi-line
    # document text); without DOTALL the anchored (.*) fails to span
    # them and value/type silently extract as '' (ADVICE r5, medium).
    typed = r'(?s)^"(.*)"\^\^<([^>]*)>$'
    langd = r'(?s)^"(.*)"@([A-Za-z0-9-]+)$'
    is_res = c.startswith("<")
    is_bnode = c.startswith("_:")
    is_typed = c.rlike(typed)
    is_lang = ~is_typed & c.rlike(langd)
    kind = (
        # NULL key (e.g. an unmatched OPTIONAL or a NULL subquery
        # aggregate) must classify as NO kind, not fall through to
        # 'lit' — isLiteral(NULL) would otherwise evaluate TRUE where
        # SPARQL error semantics drop the row (ADVICE r6, low)
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(is_res, F.lit(KIND_RESOURCE))
        .when(is_bnode, F.lit("bnode"))
        .otherwise(F.lit("lit"))
    )
    value = (
        F.when(is_res, F.substring(c, 2, F.length(c) - 2))
        .when(is_bnode, F.substring(c, 3, F.length(c) - 2))
        .when(is_typed, F.regexp_extract(c, typed, 1))
        .otherwise(F.regexp_extract(c, langd, 1))
    )
    typ = F.when(is_typed, F.regexp_extract(c, typed, 2)).otherwise(F.lit(""))
    lang = F.when(is_lang, F.regexp_extract(c, langd, 2)).otherwise(F.lit(""))
    return is_bnode, kind, value, typ, lang


def bgp_construct(
    graph: RDFGraph | DataFrame,
    patterns: Sequence[Pattern] | str,
    template: Sequence[Pattern],
    **match_kwargs,
) -> DataFrame:
    """SPARQL-CONSTRUCT analog: match `patterns` (plus any
    optional/anti/distinct kwargs bgp_match takes), then instantiate
    each `template` triple once per binding row — the KG
    transformation primitive (derive kg:relatedTo edges from
    co-mentions, reshape extraction output, build views).

    Template terms: '?var' (subject/object take the variable's node
    key apart exactly — bnodes stay bnodes, typed/lang literals keep
    their components; predicate variables must hold IRIs), a constant
    IRI string, or an `Obj` constant in object position. Binding rows
    where a template slot is null (an unmatched OPTIONAL variable)
    drop that instantiation, per SPARQL. Returns deduped canonical
    component triples (keyed), union-ready for RDFGraph.add."""
    from triplestore_spark.operators.graph import dedup_triples

    bound = bgp_match(graph, patterns, distinct=False, **match_kwargs)
    outs = []
    for s, p, o in template:
        cols = {}
        if _is_var(s):
            key = F.col(_var(s))
            is_b, _, val, _, _ = parse_node_key(key)
            cols["subject"] = val
            cols["subject_is_bnode"] = is_b
            # literal bindings cannot be subjects — that instantiation
            # is skipped, per SPARQL CONSTRUCT
            guard = key.isNotNull() & (
                key.startswith("<") | key.startswith("_:")
            )
        else:
            cols["subject"] = F.lit(s)
            cols["subject_is_bnode"] = F.lit(False)
            guard = F.lit(True)
        if _is_var(p):
            pk = F.col(_var(p))
            cols["predicate"] = F.substring(pk, 2, F.length(pk) - 2)
            guard = guard & pk.isNotNull() & pk.startswith("<")
        else:
            cols["predicate"] = F.lit(p)
        if _is_var(o):
            ok = F.col(_var(o))
            _, kind, val, typ, lang = parse_node_key(ok)
            cols["object_kind"] = kind
            cols["object_value"] = val
            cols["object_type"] = typ
            cols["object_lang"] = lang
            guard = guard & ok.isNotNull()
        else:
            ob = _as_obj(o)
            cols["object_kind"] = F.lit(ob.kind)
            cols["object_value"] = F.lit(ob.value)
            cols["object_type"] = F.lit(ob.typ or "")
            cols["object_lang"] = F.lit(ob.lang or "")
        outs.append(
            bound.where(guard).select(
                cols["subject"].alias("subject"),
                cols["subject_is_bnode"].alias("subject_is_bnode"),
                cols["predicate"].alias("predicate"),
                cols["object_kind"].alias("object_kind"),
                cols["object_value"].alias("object_value"),
                cols["object_type"].alias("object_type"),
                cols["object_lang"].alias("object_lang"),
            )
        )
    out = outs[0]
    for extra in outs[1:]:
        out = out.unionByName(extra)
    # dedup_triples dedups on the component columns then (re)computes
    # the canonical keys post-shuffle
    return dedup_triples(out)


def _pattern_scan(
    graph: RDFGraph, pat: Pattern
) -> tuple[DataFrame, list[str]]:
    """One pattern -> (bindings DataFrame, variable names).

    The scan reads the layout `route` picks for the pattern's constant
    positions (the WithX index routing, so every constant lands on the
    sort prefix of a materialized copy). Constants become the same
    component filters the WithX lookups use (`term_filter`); variables
    project node-key columns. A variable repeated inside one pattern
    adds the implied equality filter. The predicate is always one IRI
    here, never re-read as a path: path hops scan through this
    directly.
    """
    s, p, o = pat
    cs, cp, co = (None if _is_var(t) else t for t in pat)
    if co is not None:
        co = _as_obj(co)
    df = graph.layout(route(cs, cp, co))
    cond = term_filter(cs, cp, co)
    bindings: dict[str, Column] = {}
    if _is_var(s):
        bindings[_var(s)] = subject_key_expr()
    if _is_var(p):
        v = _var(p)
        key = F.concat(F.lit("<"), F.col("predicate"), F.lit(">"))
        if v in bindings:
            cond = cond & (bindings[v] == key)
        else:
            bindings[v] = key
    if _is_var(o):
        v = _var(o)
        key = F.col("okey")
        if v in bindings:
            cond = cond & (bindings[v] == key)
        else:
            bindings[v] = key
    out = df.where(cond).select(
        *[expr.alias(name) for name, expr in bindings.items()]
    )
    return out, list(bindings)


_FILTER_OPS = {
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    "=": lambda a, b: a == b,
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
}


# SPARQL builtin test functions over ONE decoded binding: spec op ->
# Column factory (key, decoded components, constant argument). Each is
# a pure-Catalyst expression over parse_node_key's components — exact,
# because it only INSPECTS canonical keys, never re-encodes values.
def _fn_filters():
    from triplestore_spark.schema import KIND_RESOURCE

    def _tag_matches(vtyp, want: str):
        long_form = want
        if want.startswith("xsd:"):
            from triplestore_spark.schema import XML_SCHEMA_NAMESPACE

            long_form = f"{XML_SCHEMA_NAMESPACE}#{want[4:]}"
        return vtyp.isin(want, long_form)

    return {
        # string tests run over the decoded lexical form (literal
        # value, IRI text, bnode label — SPARQL's STR())
        "strstarts": lambda key, kind, val, vtyp, lang, a:
            val.startswith(a),
        "strends": lambda key, kind, val, vtyp, lang, a:
            val.endswith(a),
        "contains": lambda key, kind, val, vtyp, lang, a:
            val.contains(a),
        # term-kind tests; the constant argument is True/False to
        # assert or negate in one spec
        "isiri": lambda key, kind, val, vtyp, lang, a:
            (kind == KIND_RESOURCE) == F.lit(bool(a)),
        "isliteral": lambda key, kind, val, vtyp, lang, a:
            (kind == "lit") == F.lit(bool(a)),
        "isblank": lambda key, kind, val, vtyp, lang, a:
            (kind == "bnode") == F.lit(bool(a)),
        # LANG(?v) = 'tag' (exact, case-insensitive per BCP47);
        # langmatches adds the 'en' ~ 'en-GB' prefix rule and '*'
        "lang": lambda key, kind, val, vtyp, lang, a:
            F.lower(lang) == str(a).lower(),
        "langmatches": lambda key, kind, val, vtyp, lang, a:
            (lang != "") if a == "*" else (
                (F.lower(lang) == str(a).lower())
                | F.lower(lang).startswith(str(a).lower() + "-")
            ),
        # DATATYPE(?v) = xsd:T — literals only, short or long form.
        # Deliberate deviation from SPARQL 1.1's "simple literals
        # report xsd:string": this engine's okey identity rule keeps
        # untagged and xsd:string-tagged literals DISTINCT terms
        # (functions/keys.py), so DATATYPE mirrors the stored tag —
        # an untagged literal matches no datatype, same as sameTerm
        "datatype": lambda key, kind, val, vtyp, lang, a:
            (kind == "lit") & _tag_matches(vtyp, str(a)),
    }


def compile_binding_filter(
    var_col: Column | str, op: str, value, typ: str | None = None
) -> Column:
    """SPARQL-FILTER analog over one bound variable: decode the node
    key (parse_node_key), then compare TYPED — ('?n', '>', 100,
    'xsd:integer') matches literals tagged xsd:integer (short or long
    XMLSchema form, functions/typed.py) whose cast value exceeds 100.
    Without a type, '='/'!=' compare the decoded value string and
    'regex' is an rlike over it; ordered comparisons REQUIRE a type
    (comparing lexical forms of unknown datatypes is a silent wrong
    answer, not a default). Non-matching kinds/tags decode to NULL and
    drop, per SPARQL filter-error semantics.

    Builtin TEST functions take the op slot with a constant argument:
    ('?v', 'strstarts'|'strends'|'contains', "text") over the decoded
    lexical form; ('?v', 'isiri'|'isliteral'|'isblank', True|False);
    ('?v', 'lang'|'langmatches', 'en'|'*'); ('?v', 'datatype',
    'xsd:integer'). Also 'strlen' with a 4th element naming the
    comparison: ('?v', 'strlen', 3, '>=') keeps bindings whose
    decoded value is at least 3 characters.

    `value` may be another VARIABLE ('?m') — SPARQL's ?a op ?b form.
    With a type, both keys decode through the same typed cast and the
    cast values compare; without one, '='/'!=' compare the NODE KEYS
    themselves (sameTerm semantics — an IRI never equals a literal
    with the same lexical form), and ordered comparisons are refused
    exactly as for constants. 'regex' and the builtin tests need a
    constant argument."""
    from triplestore_spark.functions.typed import parse_typed_col
    from triplestore_spark.schema import XSD_DATETIME

    key = F.col(var_col) if isinstance(var_col, str) else var_col
    is_b, kind, val, vtyp, lang = parse_node_key(key)
    rhs_var = isinstance(value, str) and value.startswith("?")
    if op in ("in", "not_in"):
        # SPARQL IN / NOT IN: sameTerm membership over canonical node
        # keys (an IRI never equals a literal with the same lexical
        # form) — one isin, pushdown-eligible like any constant filter
        if not isinstance(value, (list, tuple)) or not value:
            raise ValueError(
                f"bgp filter: {op} takes a non-empty list of node keys"
            )
        cond = key.isin(list(value))
        return cond if op == "in" else ~cond
    fns = _fn_filters()
    if op in fns or op == "strlen":
        if rhs_var:
            raise ValueError(
                f"bgp filter: {op} takes a constant argument, not a "
                f"variable ({value!r})"
            )
        if op == "strlen":
            cmp_op = typ or "="
            if cmp_op not in _FILTER_OPS:
                raise ValueError(
                    f"bgp filter: strlen comparison {cmp_op!r} must "
                    "be one of " + "/".join(_FILTER_OPS)
                )
            return _FILTER_OPS[cmp_op](F.length(val), F.lit(int(value)))
        if typ is not None:
            raise ValueError(
                f"bgp filter: {op} takes no xsd type (it inspects "
                "the key's own components)"
            )
        return fns[op](key, kind, val, vtyp, lang, value)
    if op == "regex":
        if rhs_var:
            raise ValueError(
                "bgp filter: regex pattern must be a constant, not a "
                f"variable ({value!r})"
            )
        if typ is not None:
            return (vtyp == typ) & val.rlike(value)
        return val.rlike(value)
    if op not in _FILTER_OPS:
        raise ValueError(f"bgp filter: unknown op {op!r}")
    if typ is None:
        if op in ("=", "==", "!="):
            if rhs_var:
                # sameTerm: the canonical node keys ARE term identity
                return _FILTER_OPS[op](key, F.col(_var(value)))
            return _FILTER_OPS[op](val, F.lit(value))
        raise ValueError(
            f"bgp filter: ordered comparison {op!r} needs an explicit "
            "xsd type (e.g. ('?n', '>', 100, 'xsd:integer'))"
        )
    typed_val = parse_typed_col(val, vtyp, typ)
    if rhs_var:
        _, _, rval, rvtyp, _ = parse_node_key(F.col(_var(value)))
        return _FILTER_OPS[op](typed_val, parse_typed_col(rval, rvtyp, typ))
    rhs = F.to_timestamp(F.lit(value)) if typ == XSD_DATETIME else F.lit(value)
    return _FILTER_OPS[op](typed_val, rhs)


_BIND_ARITH = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
}


def _bind_refs(spec) -> list[str]:
    """Variable names a bind spec reads (bare, no '?')."""
    form = spec[0]
    if form in ("var", "str", "ucase", "lcase", "substr", "replace",
                "strlen", "strbefore", "strafter"):
        return [_var(spec[1])]
    if form == "const":
        return []
    if form == "concat":
        out = []
        for a in spec[1]:
            if a[0] in ("str", "var"):
                out.append(_var(a[1]))
        return out
    if form == "arith":
        out = []
        for operand in (spec[2], spec[3]):
            if operand[0] == "cast":
                out.append(_var(operand[1]))
        return out
    if form == "coalesce":
        return [r for s in spec[1] for r in _bind_refs(s)]
    if form == "if":
        cond = spec[1]
        out = [_var(cond[0])]
        if isinstance(cond[2], str) and cond[2].startswith("?"):
            out.append(_var(cond[2]))
        out += _bind_refs(spec[2]) + _bind_refs(spec[3])
        return out
    raise ValueError(f"bgp bind: unknown spec form {spec!r}")


def compile_bind_expr(spec) -> Column:
    """SPARQL-BIND analog: compile an expression spec to a Column of
    canonical NODE KEYS, so a bound variable is indistinguishable from
    a matched one downstream. Pure Catalyst — no Python runs per row.

    Spec forms (a small, typed subset — anything outside it is
    refused by the parser with a named error, never approximated):

      ('var',   '?x')            alias — copy the node key
      ('const', key)             a ready canonical node-key string
      ('str',   '?x')            SPARQL STR(): the term's lexical
                                 form as a simple literal (IRI text
                                 for resources, value for literals)
      ('concat', [args])         string concat; args are ('str','?x')
                                 or ('lit', text); simple literal out
      ('arith', op, a, b, typ)   op in + - * ; operands ('cast','?x')
                                 (decode through `typ`) or ('num', n);
                                 typ is 'xsd:integer' (the one type
                                 whose lexical re-encode is exact) —
                                 result re-encoded as a typed literal
      ('ucase'|'lcase', '?x')    case-mapped decoded value as a
                                 simple literal
      ('substr', '?x', s[, l])   1-based substring (SPARQL/XPath)
      ('replace', '?x', re, rep) regex replace over the decoded value
      ('strlen', '?x')           length as an xsd:integer literal
      ('coalesce', [specs])      SPARQL COALESCE: first non-NULL of
                                 the sub-specs, in order — exact,
                                 because it SELECTS among existing
                                 keys rather than re-encoding
      ('if', cond, then, else)   SPARQL IF: cond is one
                                 compile_binding_filter spec tuple
                                 (('?v', op, value[, typ])); a NULL
                                 condition (decode error) picks the
                                 else branch, matching Spark's
                                 when/otherwise and SPARQL's
                                 false-on-error test semantics

    Error-as-unbound, per SPARQL: a row whose operand decodes NULL
    (tag mismatch, unmatched OPTIONAL variable) binds NULL."""
    from triplestore_spark.functions.typed import parse_typed_col
    from triplestore_spark.schema import XSD_INTEGER

    form = spec[0]
    if form == "var":
        return F.col(_var(spec[1]))
    if form == "const":
        return F.lit(spec[1])
    if form == "str":
        _, _, val, _, _ = parse_node_key(F.col(_var(spec[1])))
        return F.concat(F.lit('"'), val, F.lit('"^^<>'))
    if form == "concat":
        parts = []
        for a in spec[1]:
            if a[0] == "lit":
                parts.append(F.lit(a[1]))
            elif a[0] in ("str", "var"):
                _, _, val, _, _ = parse_node_key(F.col(_var(a[1])))
                parts.append(val)
            else:
                raise ValueError(f"bgp bind: bad concat arg {a!r}")
        if not parts:
            raise ValueError("bgp bind: empty concat")
        return F.concat(F.lit('"'), *parts, F.lit('"^^<>'))
    if form == "arith":
        _, op, a, b, typ = spec
        if op not in _BIND_ARITH:
            raise ValueError(f"bgp bind: unknown arithmetic op {op!r}")
        if typ != XSD_INTEGER:
            raise ValueError(
                "bgp bind: arithmetic supports xsd:integer only (the "
                "one type whose lexical re-encode is exact; float "
                f"formatting is engine-specific) — got {typ!r}"
            )

        def operand(o):
            if o[0] == "num":
                return F.lit(int(o[1]))
            if o[0] == "cast":
                _, _, val, vtyp, _ = parse_node_key(F.col(_var(o[1])))
                return parse_typed_col(val, vtyp, typ)
            raise ValueError(f"bgp bind: bad arithmetic operand {o!r}")

        res = _BIND_ARITH[op](operand(a), operand(b))
        return F.concat(
            F.lit('"'),
            res.cast("long").cast("string"),
            F.lit('"^^<' + typ + ">"),
        )
    if form in ("ucase", "lcase"):
        _, _, val, _, _ = parse_node_key(F.col(_var(spec[1])))
        fn = F.upper if form == "ucase" else F.lower
        return F.concat(F.lit('"'), fn(val), F.lit('"^^<>'))
    if form == "substr":
        _, _, val, _, _ = parse_node_key(F.col(_var(spec[1])))
        start = int(spec[2])
        if start < 1:
            raise ValueError(
                "bgp bind: SUBSTR start is 1-based (SPARQL/XPath)"
            )
        length = (
            int(spec[3])
            if len(spec) > 3 and spec[3] is not None
            else 2**31 - 1
        )
        sub = F.substring(val, start, length)
        return F.concat(F.lit('"'), sub, F.lit('"^^<>'))
    if form == "replace":
        _, _, val, _, _ = parse_node_key(F.col(_var(spec[1])))
        return F.concat(
            F.lit('"'),
            F.regexp_replace(val, spec[2], spec[3]),
            F.lit('"^^<>'),
        )
    if form == "strlen":
        _, _, val, _, _ = parse_node_key(F.col(_var(spec[1])))
        return F.concat(
            F.lit('"'),
            F.length(val).cast("string"),
            F.lit('"^^<xsd:integer>'),
        )
    if form in ("strbefore", "strafter"):
        _, _, val, _, _ = parse_node_key(F.col(_var(spec[1])))
        needle = spec[2]
        if not needle:
            raise ValueError(f"bgp bind: {form} needs a non-empty "
                             "separator")
        pos = F.instr(val, needle)
        # SPARQL: empty simple literal when the separator is absent
        part = F.when(
            pos > 0,
            F.substring(val, 1, pos - 1)
            if form == "strbefore"
            else F.substring(
                val, pos + len(needle), 2**31 - 1
            ),
        ).otherwise(F.lit(""))
        return F.concat(F.lit('"'), part, F.lit('"^^<>'))
    if form == "coalesce":
        subs = [compile_bind_expr(s) for s in spec[1]]
        if not subs:
            raise ValueError("bgp bind: empty coalesce")
        return F.coalesce(*subs)
    if form == "if":
        _, cond, then_s, else_s = spec
        c = compile_binding_filter(cond[0][1:], *cond[1:])
        return F.when(c, compile_bind_expr(then_s)).otherwise(
            compile_bind_expr(else_s)
        )
    raise ValueError(f"bgp bind: unknown spec form {spec!r}")


def _norm_values(values) -> tuple[list[str], list[tuple]]:
    """Normalize a SPARQL-VALUES spec to (var names, binding rows).

    Accepts {'?v': [keys...]} for one variable, or the tuple form
    (['?a', '?b'], [(ka, kb), ...]) for binding tuples. Bindings are
    canonical node-key strings; None inside a row is UNDEF (that
    variable is unconstrained for that row). Rows must be unique —
    a duplicate literal VALUES row would duplicate every matching
    solution in bag mode, which is never what a user wants from an
    inline list (deliberate, documented deviation from SPARQL's
    multiset VALUES; it also keeps the membership pushdown exact)."""
    from collections.abc import Mapping as _Mapping

    if isinstance(values, _Mapping):
        if len(values) != 1:
            raise ValueError(
                "bgp values: use the (['?a', '?b'], rows) tuple form "
                "for multi-variable bindings — a dict of independent "
                "lists is ambiguous (cross product vs zip)"
            )
        ((var, vals),) = values.items()
        vars_spec: Sequence = [var]
        rows_spec: Sequence = [(x,) for x in vals]
    else:
        try:
            vars_spec, rows_spec = values
        except (TypeError, ValueError):
            raise ValueError(f"bgp values: bad spec {values!r}")
    if not vars_spec or not all(_is_var(v) for v in vars_spec):
        raise ValueError(
            f"bgp values: variables must be '?name': {list(vars_spec)!r}"
        )
    names = [_var(v) for v in vars_spec]
    if len(set(names)) != len(names):
        raise ValueError("bgp values: duplicate variable")
    rows = [tuple(r) for r in rows_spec]
    if not rows:
        raise ValueError("bgp values: no binding rows")
    seen = set()
    for r in rows:
        if len(r) != len(names):
            raise ValueError(
                f"bgp values: row width != {len(names)}: {r!r}"
            )
        if any(x is not None and not isinstance(x, str) for x in r):
            raise ValueError(
                f"bgp values: bindings are node-key strings (or None "
                f"for UNDEF): {r!r}"
            )
        if r in seen:
            raise ValueError(
                f"bgp values: duplicate row {r!r} would duplicate "
                "every matching solution"
            )
        seen.add(r)
    return names, rows


def bgp_match(
    graph: RDFGraph | DataFrame,
    patterns: Sequence[Pattern] | str,
    *,
    optional: Sequence[Sequence[Pattern] | str] | None = None,
    anti: Sequence[Sequence[Pattern] | str] | None = None,
    exists: Sequence[Sequence[Pattern] | str] | None = None,
    filters: Sequence[tuple] | None = None,
    bind: Mapping[str, tuple] | None = None,
    values: tuple | dict | None = None,
    joins: Sequence[DataFrame] | None = None,
    bound_filters: Sequence[tuple] | None = None,
    allow_product: bool = False,
    distinct: bool = True,
) -> DataFrame:
    """Match a conjunction of triple patterns; one column per variable
    (first-appearance order), values are canonical node keys.

    Each term is '?name' (variable), a plain string (subject/predicate
    IRI, or an IRI constant in object position), or an `Obj` constant;
    `patterns` (and each optional/anti group) may also be one
    parse_bgp string ('?d kg:mentions ?e . ?d kg:source src:web').
    `distinct=True` gives SPARQL's set semantics for the projected
    variables; False keeps one row per embedding.

    Join order: seed with the most-constant pattern, then repeatedly
    attach the most-constant pattern sharing >=1 bound variable. A
    pattern with no variables is an existence gate (empty scan ->
    empty result) applied as a broadcast of a single-row limit scan.
    Disconnected groups raise unless allow_product=True (an explicit
    cartesian is almost never what you want at scale).

    `optional` adds SPARQL-OPTIONAL groups: each group is itself a
    pattern list, matched as a BGP and LEFT-joined on the variables it
    shares with the required part — rows that fail the group keep
    their required bindings with nulls in the group's new variables.
    Only WELL-DESIGNED patterns are accepted (each group must share
    >=1 variable with the required BGP, and a group's new variables
    may not leak into other groups) — the shapes beyond that have
    order-dependent semantics and are refused rather than silently
    misevaluated. Each left join is a plain equi-join on already-bound
    keys, so AQE can still broadcast or skew-split it.

    A pattern's PREDICATE may be a property-path expression
    (PathExpr('kg:a/kg:b*'), or a plain string containing path
    metacharacters): the path compiles through property_path into a
    distinct (src, dst) relation joined in like any other pattern —
    '?d kg:mentions/rdf:type ?t' works directly, closure steps
    included. Both-endpoint-pinned paths become existence gates.

    `filters` adds SPARQL-FILTER value constraints over bound
    variables: each spec is ('?v', op, value[, xsd_type]) compiled by
    compile_binding_filter (typed comparisons via parse_node_key +
    cast; 'regex' over the decoded value). A filter on a variable
    bound by exactly one pattern is PUSHED BELOW the joins onto that
    pattern's scan; multi-pattern variables filter after the required
    joins. Filters may reference required-BGP variables only. The
    comparand may itself be a variable ('?a', '<', '?b', type) — see
    compile_binding_filter; when such a filter is the only link
    between two pattern components, the planner crosses them and the
    comparison becomes the join condition (theta-join) instead of
    refusing a cartesian.

    `bind` introduces NEW variables computed from bound ones (SPARQL
    BIND): {'?y': spec} where spec is a compile_bind_expr form —
    alias, constant, STR(), CONCAT(), or typed integer arithmetic.
    Binds apply after all joins in spec order (later binds may read
    earlier ones) and yield canonical node keys, so downstream
    operators can't tell a bound variable from a matched one.

    `values` injects inline bindings (SPARQL VALUES): {'?v': [node
    keys...]} for one variable, or (['?a', '?b'], [(ka, kb), ...])
    for tuples, with None as UNDEF (that variable unconstrained for
    that row). Variables must be bound by the required patterns.
    Column-wise membership is PUSHED onto every scan binding the
    variable (whenever the column has no UNDEF), so at scale the
    constants prune the layout scans like any other filter; the exact
    tuple constraint is a broadcast semi-join per UNDEF-mask group at
    the end (a single fully-bound variable needs no end join at all).
    Binding rows must be unique (see _norm_values).

    `anti` adds negation (SPARQL FILTER NOT EXISTS): each group is
    matched as a BGP and required-side rows with ANY match on the
    shared variables are dropped (left-anti join — one shuffle-free
    broadcast when the group result is small, never a row explosion).
    Anti groups see the REQUIRED bindings only and bind no new output
    columns; evaluation order is required -> exists/anti -> optional.

    `exists` is the positive twin (SPARQL FILTER EXISTS): required
    rows are KEPT iff the group matches on the shared variables — a
    left-semi join, so the group can never duplicate solutions no
    matter how many witnesses it has. Same well-designedness rule as
    `anti` (>=1 shared variable, no new output columns); semi and
    anti restrictions commute, so their relative order is free.

    An `optional` entry may be a dict {'patterns': ..., 'filters':
    [...]} — SPARQL FILTER inside OPTIONAL: the filter prefilters the
    ARM before the left join (it decides whether the group binds,
    never whether a required row survives), and its variables must be
    bound by the group's own patterns.

    `bound_filters` is SPARQL's BOUND(?v) / !BOUND(?v): each spec is
    ('?v', True|False) and applies AFTER the optional joins and
    binds (BOUND is only meaningful once a variable may be null —
    ('?m', False) with an optional group is the classic left-anti
    idiom). The variable must be in scope (required, optional, join,
    or bind).

    `joins` injects pre-computed SOLUTION SETS (SPARQL subqueries):
    each DataFrame's columns are variable names, and it enters the
    join planner as one more scan — equi-joined on shared variables,
    eligible for filter pushdown (a filter on a variable only a join
    binds applies to that DataFrame before the join) and for theta
    links, and subject to the same cartesian refusal. `patterns` may
    be empty when `joins` is non-empty (a group that IS a subquery).
    Boundary, documented not hidden: a join row whose shared variable
    is NULL (an unbound projection from an inner OPTIONAL) drops at
    the equi-join, where SPARQL's compatibility rule would keep it —
    project only bound variables from subqueries.

    Over a MaterializedGraph each pattern scans the LAYOUT whose sort
    prefix matches its constant positions (subject const -> SPO,
    else predicate const -> POS, else object const -> OSP — the
    reference's WithX index routing, source.go:130-164, applied per
    pattern), so every constant lands on parquet min/max stats of a
    copy sorted for it.
    """
    graph = as_graph(graph)
    if isinstance(patterns, str):
        patterns = parse_bgp(patterns)
    if optional is not None:
        optional = [_norm_opt_group(g) for g in optional]
    if anti is not None:
        anti = [parse_bgp(g) if isinstance(g, str) else g for g in anti]
    if exists is not None:
        exists = [
            parse_bgp(g) if isinstance(g, str) else g for g in exists
        ]
    if not patterns and not joins:
        raise ValueError("bgp_match: no patterns")

    scans: list[tuple[DataFrame, list[str], int]] = []
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be (s, p, o): {pat!r}")
        s, p, o = pat
        if _is_path_pred(p):
            # PATH PATTERN: the predicate is a property-path
            # expression — compile it to a (src, dst) relation
            # (property_path handles pushdown, alternation unions,
            # and cycle-safe closure) and join it in like any scan.
            # Path relations are SET-valued (distinct pairs), per
            # SPARQL's */+ semantics.
            rel = property_path(
                graph,
                _path_steps(p),
                start=None if _is_var(s) else s,
                end=None if _is_var(o) else o,
                distinct=True,
            )
            if _is_var(s) and _is_var(o) and _var(s) == _var(o):
                rel = rel.where(F.col("src") == F.col("dst")).select(
                    F.col("src").alias(_var(s))
                )
                vars_ = [_var(s)]
            else:
                cols = []
                vars_ = []
                if _is_var(s):
                    cols.append(F.col("src").alias(_var(s)))
                    vars_.append(_var(s))
                if _is_var(o):
                    cols.append(F.col("dst").alias(_var(o)))
                    vars_.append(_var(o))
                if cols:
                    rel = rel.select(*cols)
                else:  # both endpoints pinned: existence gate
                    rel = rel.select(F.lit(1).alias("_w"))
            scans.append((rel, vars_, 3 - len(vars_)))
            continue
        scan, vars_ = _pattern_scan(graph, pat)
        n_const = 3 - sum(_is_var(t) for t in pat)
        scans.append((scan, vars_, n_const))

    for jdf in joins or ():
        # a subquery solution set: every column is a variable; its
        # (often aggregated, already-reduced) rows join like any scan
        if not jdf.columns:
            raise ValueError("bgp_match: a joins= DataFrame has no columns")
        scans.append((jdf, list(jdf.columns), 0))

    # FILTER compilation + pushdown: a filter whose variable binds in
    # exactly ONE pattern is applied to that pattern's scan BEFORE any
    # join (the filtered scan is also counted more constant for join
    # seeding); multi-pattern variables filter after the required
    # joins. Filters see required-BGP variables only.
    post_filters: list[Column] = []
    filter_links: list[tuple[str, str]] = []
    for spec in filters or ():
        if len(spec) == 3:
            fvar, fop, fval, ftyp = *spec, None
        elif len(spec) == 4:
            fvar, fop, fval, ftyp = spec
        else:
            raise ValueError(f"bgp filter: bad spec {spec!r}")
        if not _is_var(fvar):
            raise ValueError(f"bgp filter: {fvar!r} is not a variable")
        v = _var(fvar)
        holders = [i for i, s in enumerate(scans) if v in s[1]]
        if not holders:
            raise ValueError(
                f"bgp filter: variable {fvar!r} is not bound by the "
                "required patterns"
            )
        cond = compile_binding_filter(v, fop, fval, ftyp)
        if isinstance(fval, str) and fval.startswith("?"):
            # two-variable comparison: both sides must be bound; it
            # can only run once a row carries both columns, so it is
            # always a post-join filter (a same-pattern co-binding is
            # the one pushable case and not worth a special path)
            rv = _var(fval)
            if not any(rv in s[1] for s in scans):
                raise ValueError(
                    f"bgp filter: variable {fval!r} is not bound by "
                    "the required patterns"
                )
            post_filters.append(cond)
            # the comparison LINKS the two variables' patterns: two
            # components joined only by it are a theta-join (SPARQL
            # allows it), not an unconstrained cartesian — record the
            # link so the join planner may cross the components and
            # let Catalyst fold this filter into the join condition
            filter_links.append((v, rv))
            continue
        if len(holders) == 1:
            i = holders[0]
            scan, vars_, n_const = scans[i]
            scans[i] = (scan.where(cond), vars_, n_const + 1)
        else:
            post_filters.append(cond)

    # VALUES: column-wise membership pushdown onto the scans (exact
    # when the spec has a single fully-bound variable — then no end
    # join is needed; otherwise a necessary-condition prefilter with
    # the exact tuple semi-join applied at the end, see below).
    vals_end_join: tuple[list[str], list[tuple]] | None = None
    if values is not None:
        vnames, vrows = _norm_values(values)
        scan_vars = set()
        for _, vars_, _ in scans:
            scan_vars |= set(vars_)
        unbound = [v for v in vnames if v not in scan_vars]
        if unbound:
            raise ValueError(
                f"bgp values: variables {unbound} are not bound by "
                "the required patterns"
            )
        for ci, v in enumerate(vnames):
            col_vals = [r[ci] for r in vrows]
            if any(x is None for x in col_vals):
                continue  # some row leaves v UNDEF — no prefilter
            members = sorted(set(col_vals))
            for i, (scan, vars_, n_const) in enumerate(scans):
                if v in vars_:
                    scans[i] = (
                        scan.where(F.col(v).isin(members)),
                        vars_,
                        n_const + 1,
                    )
        if len(vnames) > 1 or any(r[0] is None for r in vrows):
            vals_end_join = (vnames, vrows)

    var_order: list[str] = []
    for pat in patterns:
        for t in pat:
            if _is_var(t) and _var(t) not in var_order:
                var_order.append(_var(t))
    for jdf in joins or ():
        for c in jdf.columns:
            if c not in var_order:
                var_order.append(c)

    # existence gates first: cheap limit-1 broadcast factors
    gates = [s for s in scans if not s[1]]
    rest = sorted(
        (s for s in scans if s[1]), key=lambda s: -s[2]
    )
    if not rest:
        raise ValueError("bgp_match: every pattern is constant-only")

    cur, bound = rest[0][0], set(rest[0][1])
    pending = rest[1:]
    while pending:
        pick = None
        for i, (scan, vars_, _) in enumerate(pending):
            if bound & set(vars_):
                pick = i
                break
        if pick is None:
            # no equi-connected scan: a var-var FILTER linking the
            # bound set to a pending scan still constrains the pair
            # (theta-join) — permit that cross; the post-filter lands
            # directly above it and Catalyst rewrites Filter-over-
            # CrossJoin into a conditioned join
            for i, (scan, vars_, _) in enumerate(pending):
                vs = set(vars_)
                if any(
                    (a in bound and b in vs) or (b in bound and a in vs)
                    for a, b in filter_links
                ):
                    pick = i
                    break
        if pick is None:
            if not allow_product:
                raise ValueError(
                    "bgp_match: disconnected patterns would form a "
                    "cartesian product; pass allow_product=True to force"
                )
            pick = 0
        scan, vars_, _ = pending.pop(pick)
        shared = sorted(bound & set(vars_))
        cur = cur.join(scan, on=shared) if shared else cur.crossJoin(scan)
        bound |= set(vars_)

    for cond in post_filters:
        cur = cur.where(cond)

    for gate, _, _ in gates:
        cur = cur.join(
            F.broadcast(gate.limit(1).select(F.lit(1).alias("_g"))),
            how="inner",
        ).drop("_g")

    for kind, groups, how in (
        ("exists", exists, "left_semi"),
        ("anti", anti, "left_anti"),
    ):
        for gi, group in enumerate(groups or ()):
            gdf = bgp_match(graph, group, distinct=False,
                            allow_product=allow_product)
            shared = sorted(set(bound) & set(gdf.columns))
            if not shared:
                raise ValueError(
                    f"bgp_match: {kind} group {gi} shares no variable "
                    "with the required patterns (not well-designed)"
                )
            cur = cur.join(gdf.select(*shared), on=shared, how=how)

    if optional:
        required_vars = set(bound)
        claimed: set[str] = set()
        for gi, group in enumerate(optional):
            gpats = _opt_patterns(group)
            gkw = {}
            if isinstance(group, dict) and group.get("filters"):
                # FILTER inside OPTIONAL: prefilter the ARM before the
                # left join — it decides whether the group binds, never
                # whether the required row survives. The recursive call
                # enforces that filter variables are bound by the
                # group's own patterns (a filter reaching back into
                # required-only variables would need the condition ON
                # the join and is refused).
                gkw["filters"] = group["filters"]
            gdf = bgp_match(graph, gpats, distinct=False,
                            allow_product=allow_product, **gkw)
            gvars = set(gdf.columns)
            shared = sorted(required_vars & gvars)
            new = gvars - required_vars
            if not shared:
                raise ValueError(
                    f"bgp_match: optional group {gi} shares no variable "
                    "with the required patterns (not well-designed)"
                )
            leaked = new & claimed
            if leaked:
                raise ValueError(
                    f"bgp_match: optional group {gi} reuses variables "
                    f"{sorted(leaked)} from another optional group "
                    "(not well-designed)"
                )
            claimed |= new
            cur = cur.join(gdf, on=shared, how="left")
            for v in gpats:
                for t in v:
                    if _is_var(t) and _var(t) not in var_order:
                        var_order.append(_var(t))

    if vals_end_join is not None:
        # exact VALUES constraint: group binding rows by their
        # UNDEF mask; each mask group is a tiny unique-keyed table
        # broadcast-semi-joined on its defined variables (an all-UNDEF
        # row matches every solution). Union-all across mask groups is
        # SPARQL's join multiplicity: a solution matching rows in two
        # groups appears twice in bag mode (distinct dedupes in set
        # mode below).
        vnames, vrows = vals_end_join
        by_mask: dict[tuple, list[tuple]] = {}
        for r in vrows:
            mask = tuple(x is not None for x in r)
            by_mask.setdefault(mask, []).append(r)
        branches: list[DataFrame] = []
        for mask, rows_m in by_mask.items():
            defined = [v for v, m in zip(vnames, mask) if m]
            if not defined:
                branches.append(cur)
                continue
            data = [
                tuple(x for x, m in zip(r, mask) if m) for r in rows_m
            ]
            vdf = local_frame(
                cur.sparkSession,
                data,
                ", ".join(f"`{v}` string" for v in defined),
            )
            branches.append(
                cur.join(F.broadcast(vdf), on=defined, how="leftsemi")
            )
        cur = branches[0]
        for b in branches[1:]:
            cur = cur.unionByName(b)

    if bind:
        # BIND runs last in the group scope: it sees every matched
        # variable (optional ones bind NULL -> NULL out, SPARQL's
        # error-as-unbound), introduces only NEW names, and being
        # functionally determined by existing columns it composes
        # with the final distinct unchanged. Binds apply in spec
        # order, so a later bind may read an earlier one (SPARQL's
        # sequential BIND scope).
        for bvar, bspec in bind.items():
            bv = _var(bvar) if _is_var(bvar) else bvar
            if bv in var_order:
                raise ValueError(
                    f"bgp bind: ?{bv} is already bound by the patterns"
                )
            missing = [r for r in _bind_refs(bspec) if r not in var_order]
            if missing:
                raise ValueError(
                    f"bgp bind: ?{bv} reads unbound variables "
                    f"{missing}"
                )
            cur = cur.withColumn(bv, compile_bind_expr(bspec))
            var_order.append(bv)

    for spec in bound_filters or ():
        bvar, want = spec
        v = _var(bvar) if _is_var(bvar) else bvar
        if v not in var_order:
            raise ValueError(
                f"bgp bound filter: ?{v} is not in scope"
            )
        cur = cur.where(
            F.col(v).isNotNull() if want else F.col(v).isNull()
        )

    out = cur.select(*var_order)
    return out.distinct() if distinct else out


def _split_path_alt(expr: str) -> list[str]:
    """Split an alternation on '|' at parenthesis depth 0, so a
    sequence-group alternative '(p1/p2)' stays one entry."""
    out: list[str] = []
    buf: list[str] = []
    depth = 0
    for c in expr:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "|" and depth == 0:
            out.append("".join(buf))
            buf = []
            continue
        buf.append(c)
    out.append("".join(buf))
    return out


class _Step(NamedTuple):
    """One parsed path step: `alts` is a tuple of alternatives, each a
    predicate with an optional '^' (inverse) or '!' (negated set
    member) prefix, or a _SeqGroup; `lo`/`hi` bound the hop count
    (1, 1 for a plain hop, hi None for an unbounded closure)."""

    alts: tuple
    lo: int = 1
    hi: int | None = 1


@dataclass(frozen=True)
class _SeqGroup:
    """A parenthesized SEQUENCE alternative '(p1/p2)', as inner _Steps.
    Under a quantifier it closes over a FIXED-LENGTH sequence: the
    closure composes the inner hops into one (src, dst) edge relation
    and walks THAT, so per closure level the walk joins the
    precomposed relation instead of re-deriving the chain. A step
    whose only alternative is an unquantified group is pure grouping;
    _parse_path_steps splices its steps inline."""

    steps: tuple[_Step, ...]


def _negated(alts) -> bool:
    """A negated property set: its alternatives are all '!'-prefixed."""
    return isinstance(alts[0], str) and alts[0].startswith("!")


def _path_step_alternatives(step) -> tuple:
    """Normalize one path step to its alternatives: 'p', '^p'
    (inverse), 'p1|p2|^p3' (alternation), or an explicit list. An
    alternative may itself be a parenthesized SEQUENCE '(p1/p2)',
    parsed here into a _SeqGroup — valid only under a quantifier,
    where the closure's edge set becomes the union of the plain hops
    and the composed sequence relations (SPARQL (p0|(p1/p2))*)."""
    if isinstance(step, str):
        raw = [a.strip() for a in _split_path_alt(step)]
    else:
        raw = [str(a).strip() for a in step]
    if not raw or any(not a or a == "^" for a in raw):
        raise ValueError(f"property_path: bad step {step!r}")
    alts: list = []
    for a in raw:
        if a.startswith("(") != a.endswith(")"):
            raise ValueError(
                f"property_path: bad group alternative {a!r}"
            )
        if a.startswith("("):
            inner = [_parse_path_step(s) for s in _split_path_expr(a[1:-1])]
            if not inner:
                # '()' / '()*' would otherwise crash later with a bare
                # NoneType error from the edge composer (ADVICE r6, low)
                raise ValueError(f"property_path: empty group {a!r}")
            alts.append(_SeqGroup(tuple(inner)))
        elif _is_var(a.lstrip("^")):
            raise ValueError("property_path: predicates must be constants")
        else:
            alts.append(a)
    return tuple(alts)


# Trailing quantifier on a string step: p*, p+, p{n}, p{m,}, p{m,n}.
# It applies to the WHOLE step (SPARQL (p1|p2)* semantics for an
# alternation step).
_QUANT_RE = __import__("re").compile(r"^(.*?)(\*|\+|\{(\d+)(?:,(\d*))?\})$")


def _parse_path_steps(path) -> list[_Step]:
    """The one parser of the engine's path syntax: string and list
    steps parse, _Steps pass through. A step that is one unquantified
    group is pure grouping and splices its steps inline."""
    steps: list[_Step] = []
    for s in path:
        st = s if isinstance(s, _Step) else _parse_path_step(s)
        if (
            st[1:] == (1, 1)
            and len(st.alts) == 1
            and isinstance(st.alts[0], _SeqGroup)
        ):
            steps.extend(_parse_path_steps(st.alts[0].steps))
        else:
            steps.append(st)
    if not steps:
        raise ValueError("property_path: empty path")
    return steps


def _parse_path_step(step) -> _Step:
    """One string (or explicit alternatives list) step -> _Step. A
    plain step is (alts, 1, 1); 'p*' -> (('p',), 0, None); 'p+' ->
    (('p',), 1, None); 'p{2,4}' -> (('p',), 2, 4); 'p{3,}' ->
    (('p',), 3, None).

    A step starting with '!' is a NEGATED PROPERTY SET (SPARQL
    !(p1|p2)): one forward hop whose predicate is NOT in the listed
    set; its alternatives come back each prefixed '!' (all-or-none by
    construction). Forward-only ('^' inside a negated set is refused),
    quantifiers compose ('!p*' = closure over the complement).

    A parenthesized SEQUENCE with a quantifier — '(p1/p2)*' — parses
    to ((_SeqGroup(inner_steps),), lo, hi): closure over the composed
    inner relation. Parentheses around ONE step are precedence only:
    '(p1|p2)*' quantifies the whole alternation."""
    if not isinstance(step, str):
        return _Step(_path_step_alternatives(step))
    base = step.strip()
    lo, hi = 1, 1
    m = _QUANT_RE.match(base)
    if m and m.group(1):
        base, q = m.group(1), m.group(2)
        if q == "*":
            lo, hi = 0, None
        elif q == "+":
            lo, hi = 1, None
        else:
            lo = int(m.group(3))
            hi = (
                (int(m.group(4)) if m.group(4) else None)
                if m.group(4) is not None
                else lo
            )
        if hi is not None and hi < lo:
            raise ValueError(f"property_path: bad quantifier {q!r}")
    if base.startswith("!"):
        preds = [a.strip() for a in base[1:].split("|")]
        if not preds or any(
            (not a) or a.startswith("^") or _is_var(a) for a in preds
        ):
            raise ValueError(
                f"property_path: bad negated property set {step!r} "
                "(forward constant predicates only)"
            )
        return _Step(tuple("!" + a for a in preds), lo, hi)
    alts = _path_step_alternatives(base)
    if (
        len(alts) == 1
        and isinstance(alts[0], _SeqGroup)
        and len(alts[0].steps) == 1
    ):
        inner = alts[0].steps[0]
        if (lo, hi) == (1, 1):
            return inner
        if inner[1:] != (1, 1):
            raise ValueError(
                "property_path: nested quantifiers "
                f"({step!r}) are not supported"
            )
        alts = inner.alts
    return _Step(alts, lo, hi)


def _fixed_hops(steps: Sequence[_Step]) -> Sequence[_Step]:
    """A sequence group's inner steps, each of which must be one hop:
    the group's closure is over a FIXED-LENGTH sequence."""
    for st in steps:
        if st[1:] != (1, 1):
            raise ValueError(
                "property_path: a quantified group closes over a "
                "FIXED-LENGTH sequence only (nested quantifiers are "
                "refused)"
            )
    return steps


def _invert_parsed_step(step: _Step) -> _Step:
    """^(step): invert every alternative, keep the quantifier — inverse
    distributes over closure and alternation ( ^(p*) == (^p)*,
    ^(p|q) == ^p|^q ); a sequence group reverses its hops and inverts
    each ( ^((a/b)*) == (^b/^a)* )."""
    alts = []
    for a in step.alts:
        if isinstance(a, _SeqGroup):
            a = _SeqGroup(
                tuple(_invert_parsed_step(s) for s in reversed(a.steps))
            )
        elif a.startswith("!"):
            raise ValueError(
                "property_path: a negated property set cannot be walked "
                "backward — pin the start of the chain instead"
            )
        else:
            a = a[1:] if a.startswith("^") else "^" + a
        alts.append(a)
    return _Step(tuple(alts), step.lo, step.hi)


def _negated_hop_frame(graph, excluded: Sequence[str], src_t, dst_t):
    """One forward hop over the COMPLEMENT of a predicate set: a
    predicate-variable scan minus the excluded keys (isin is a single
    codegen'd filter; at scale the exclusion list is config-sized)."""
    scan = _pattern_scan(graph, (src_t, "?__np", dst_t))[0]
    keys = [f"<{p}>" for p in excluded]
    out = scan.where(~F.col("__np").isin(keys))
    if len(out.columns) == 1:  # both endpoints pinned: witness rows
        return out.select(F.lit(1).alias("_w"))
    return out.drop("__np")


def _term_key(t: Term) -> str:
    """Node key of a constant endpoint (IRI string or Obj)."""
    return t.okey() if isinstance(t, Obj) else f"<{t}>"


def _closure_edges(graph, alts: Sequence) -> DataFrame:
    """One-hop edge set (_cs, _cd) for a quantified step: union of the
    alternatives' single-pattern scans, every branch's predicate
    filter pushed down before the union (same shape the fixed-length
    alternation uses), plus the composed relation of each _SeqGroup
    alternative. A negated set ('!'-prefixed alts) is one complement
    scan."""
    if _negated(alts):
        edges = _negated_hop_frame(
            graph, [a[1:] for a in alts], "?__cs", "?__cd"
        )
        return edges.select(
            F.col("__cs").alias("_cs"), F.col("__cd").alias("_cd")
        )
    frames = []
    seq_frames = []
    for a in alts:
        if isinstance(a, _SeqGroup):
            # a sequence-group alternative '(p1/p2)': its composed
            # relation unions into the edge set alongside plain hops
            seq_frames.append(_seq_edges(graph, a.steps))
            continue
        if a.startswith("^"):
            pat: Pattern = ("?__cd", a[1:], "?__cs")
        else:
            pat = ("?__cs", a, "?__cd")
        frames.append(_pattern_scan(graph, pat)[0])
    edges = None
    if frames:
        edges = frames[0]
        for f in frames[1:]:
            edges = edges.unionByName(f)
        edges = edges.select(
            F.col("__cs").alias("_cs"), F.col("__cd").alias("_cd")
        )
    for sf in seq_frames:
        edges = sf if edges is None else edges.unionByName(sf)
    return edges


def _seq_edges(graph, inner_steps: Sequence[_Step]) -> DataFrame:
    """(_cs, _cd) edge relation of a FIXED-LENGTH sequence group —
    '(p1/p2)*' closes over THIS. Each hop's edge frame (alternation /
    inverse / negated handled by _closure_edges) composes left-to-
    right with one equi-join per hop; the result is distinct (the
    closure is set-valued anyway, and dedup shrinks the checkpointed
    edge set before the walk). Composing ONCE and checkpointing beats
    deriving the chain again at every closure level."""
    cur: DataFrame | None = None
    for alts, _, _ in _fixed_hops(inner_steps):
        hop = _closure_edges(graph, alts)
        if cur is None:
            cur = hop
        else:
            hop = hop.select(
                F.col("_cs").alias("_hs"), F.col("_cd").alias("_hd")
            )
            cur = cur.join(hop, cur["_cd"] == hop["_hs"]).select(
                "_cs", F.col("_hd").alias("_cd")
            )
    if cur is None:
        raise ValueError("property_path: empty group")
    return cur.distinct()


def _reach_level(state: DataFrame, edges: DataFrame, level: int) -> DataFrame:
    """One level of the depth-tagged reachability fixpoint. `state`
    holds key columns ending in `_b` (the node reached) and `_l`, the
    level the key was first reached at. Keys found at `level - 1` step
    one edge (`_cs` -> `_cd`); the min(_l) merge keeps each key once at
    its first depth, so a key reached again never re-enters the
    frontier (cycle-safe, set-valued). Both inputs are plan leaves, so
    the frontier join plans as a broadcast from their known sizes and
    the merge is the level's one shuffle."""
    keys = [c for c in state.columns if c != "_l"]
    cand = (
        state.where(F.col("_l") == level - 1)
        .join(edges, F.col("_b") == F.col("_cs"))
        .select(
            *[c for c in keys if c != "_b"],
            F.col("_cd").alias("_b"),
            F.lit(level).alias("_l"),
        )
    )
    return state.unionByName(cand).groupBy(*keys).agg(F.min("_l").alias("_l"))


def _reach(
    state: DataFrame, edges: DataFrame, levels: int
) -> tuple[DataFrame, bool]:
    """Up to `levels` _reach_level steps from `state` (its rows at
    `_l` 0) over a checkpointed `edges` leaf. Each level is one
    checkpoint_level whose own job counts the keys it newly reached,
    so the plan is flat at every depth; the first level that reaches
    nothing new stops the loop. Returns the state and whether its
    last level still grew."""
    for level in range(1, levels + 1):
        state, found = checkpoint_level(
            _reach_level(state, edges, level),
            F.count(F.when(F.col("_l") == level, 1)),
        )
        if found == 0:
            return state, False
    return state, levels > 0


# exact hops between localCheckpoints of a long path prefix, which
# bound that prefix's plan
_PREFIX_HOPS_PER_CHECKPOINT = 8


def _closure_pairs(
    seed: DataFrame,
    edges: DataFrame,
    lo: int,
    hi: int | None,
    max_depth: int,
) -> DataFrame:
    """Distinct (_a, _b) pairs with _b reachable from a seed node _a
    in between `lo` and `hi` hops (hi=None -> unbounded closure), plus
    `_l`, the closure level past `lo` that first reached the pair.

    `lo` exact hops (deduplicated between hops, localCheckpoint'ed every
    _PREFIX_HOPS_PER_CHECKPOINT hops), then up to
    hi-lo _reach levels — set semantics per SPARQL, so a cyclic graph
    terminates in <= |reachable nodes| levels. An unbounded closure
    may take `max_depth` levels; like the CC rounds it confirms a
    fixed point reached at that bound with one more level, and raises
    only if that level still finds new pairs. The seed set is
    the BOUND frontier (pinned endpoint or the chain's bindings so
    far), never all nodes — an unrooted all-pairs closure is refused
    upstream because it is quadratic in components at 100 TB. With
    closure levels to run, the edge set is localCheckpoint'ed once:
    a leaf every level joins, with no cache to release."""
    closure = hi is None or hi > lo
    if closure:
        edges = edges.localCheckpoint(eager=True)
    cur = seed.select(F.col("_n").alias("_a"), F.col("_n").alias("_b"))
    for i in range(lo):
        cur = cur.join(edges, cur["_b"] == edges["_cs"]).select(
            "_a", F.col("_cd").alias("_b")
        )
        if i + 1 < lo:
            # the last hop is deduplicated below: by the exact path's
            # distinct, or by the first closure level's min merge
            cur = cur.distinct()
        if (i + 1) % _PREFIX_HOPS_PER_CHECKPOINT == 0:
            cur = cur.localCheckpoint(eager=True)
    if not closure:
        return cur.distinct()
    pairs, expanding = _reach(
        cur.withColumn("_l", F.lit(0)),
        edges,
        max_depth + 1 if hi is None else hi - lo,
    )
    if hi is None and expanding:
        raise ValueError(
            f"property_path: closure still expanding after "
            f"{max_depth} levels; raise closure_max_depth if the "
            "graph really is that deep"
        )
    return pairs


def property_path(
    graph: RDFGraph | DataFrame,
    path: Sequence[str | Sequence[str]],
    *,
    start: Term | None = None,
    end: Term | None = None,
    distinct: bool = True,
    closure_max_depth: int = 64,
) -> DataFrame:
    """Predicate chain p1/p2/.../pk -> (src, dst) node keys. Each step
    is a parsed _Step (what SPARQL compiles a path to) or a string or
    list step in the syntax below, parsed once by _parse_path_steps:
    a predicate IRI, an INVERSE step '^p' (walked object ->
    subject), an ALTERNATION 'p1|p2' / ['p1', '^p2'] (SPARQL alt
    semantics: union of the alternatives' hops), or a QUANTIFIED step
    'p*' / 'p+' / 'p{m,n}' / 'p{m,}' (Kleene closure — a trailing
    quantifier on the string form applies to the whole step, so
    '^p|q*' reads as SPARQL (^p|q)*), or a quantified SEQUENCE GROUP
    '(p1/p2)*' (closure over the composed relation: the inner hops —
    alternation/inverse/negated fine, nested quantifiers refused —
    join into ONE checkpointed (src, dst) edge set via _seq_edges, and
    the frontier walks that, so each closure level costs one join
    however long the inner sequence is). Hop variables stitch
    object-of-step-i to subject-of-step-i+1 — exact because both
    positions bind the same node-key space. `start`/`end` pin the
    endpoints (subject string / Obj or IRI string respectively).

    A single-alternative step compiles to one BGP pattern (constants
    push down onto the best layout, see bgp_match); an alternation
    step compiles to the UNION of its alternatives' one-pattern scans
    before the chain join, so the union runs before the shuffle and
    each branch still pushes its predicate filter down. A quantified
    step compiles to level-synchronous frontier expansion over the
    step's one-hop edge set (the reference's unbounded recursive walk,
    tree.go:58-82, re-expressed as one join per LEVEL instead of one
    query per node), seeded from the chain's bindings so far — never
    from all nodes. Each level is one join of the newest frontier
    against the checkpointed edge set, merged into a single
    depth-tagged reached set that keeps every pair at its first depth
    (SPARQL path closure is existential / set-valued), so cyclic
    graphs terminate; `closure_max_depth` bounds a runaway unbounded
    walk with a clear error.

    An UNROOTED leading closure (no pinned start, nothing to its
    left) is evaluated by reversing the chain when the other end is
    pinned (p* walked as ^p* from `end`); with BOTH endpoints open it
    is refused — an all-pairs closure is quadratic in components at
    100 TB.
    """
    if not path:
        raise ValueError("property_path: empty path")
    graph = as_graph(graph)
    steps = _parse_path_steps(path)
    # an IRI endpoint given as an Obj is its plain string: a string is
    # an IRI in the subject slot and in the object slot alike, and an
    # inverse hop puts `end` in the subject slot
    start, end = (
        t.value if isinstance(t, Obj) and t.kind == KIND_RESOURCE else t
        for t in (start, end)
    )
    swapped = False
    if start is None and steps[0][1:] != (1, 1):
        # unrooted leading closure: walk from the other end if pinned
        if end is not None or steps[-1][1:] == (1, 1):
            steps = [_invert_parsed_step(s) for s in reversed(steps)]
            start, end = end, None
            swapped = True
            if start is None and steps[0][1:] != (1, 1):
                raise ValueError(
                    "property_path: closure step with neither endpoint "
                    "pinned nor a fixed-length step to seed from — an "
                    "all-pairs closure is refused at scale"
                )
        else:
            raise ValueError(
                "property_path: leading closure step needs a pinned "
                "start (or a pinned end to walk backward from)"
            )
    terms: list[Term] = ["?src" if start is None else start]
    for i in range(len(steps) - 1):
        terms.append(f"?h{i}")
    terms.append("?dst" if end is None else end)

    cur: DataFrame | None = None
    bound: set[str] = set()
    for i, (alts, lo, hi) in enumerate(steps):
        src_t, dst_t = terms[i], terms[i + 1]
        if (lo, hi) != (1, 1):
            edges = _closure_edges(graph, alts)
            if cur is None:
                # first step: seed from the pinned start constant
                seed = local_frame(
                    edges.sparkSession, [(_term_key(start),)], "_n string"
                )
            else:
                seed = cur.select(
                    F.col(_var(src_t)).alias("_n")
                ).distinct()
            pairs = _closure_pairs(seed, edges, lo, hi, closure_max_depth)
            cols = []
            if _is_var(src_t):
                cols.append(F.col("_a").alias(_var(src_t)))
            if _is_var(dst_t):
                cols.append(F.col("_b").alias(_var(dst_t)))
            else:
                pairs = pairs.where(F.col("_b") == _term_key(_as_obj(dst_t)))
            if not cols:
                # both endpoints pinned: witness rows only
                cols = [F.lit(1).alias("_w")]
            step_df = pairs.select(*cols)
        elif any(isinstance(a, _SeqGroup) for a in alts):
            raise ValueError(
                "property_path: a sequence alternative "
                "('p0|(p1/p2)') needs a quantifier on the step — "
                "unquantified, write the plain sequence or a "
                "UNION of path patterns"
            )
        elif _negated(alts):
            # negated property set: one complement hop (forward)
            if isinstance(src_t, Obj) and src_t.kind != KIND_RESOURCE:
                raise ValueError(
                    "property_path: a literal cannot occupy the "
                    f"subject position of negated step {i}"
                )
            step_df = _negated_hop_frame(
                graph, [a[1:] for a in alts], src_t, dst_t
            )
        else:
            frames = []
            for a in alts:
                if a.startswith("^"):
                    pat: Pattern = (dst_t, a[1:], src_t)
                else:
                    pat = (src_t, a, dst_t)
                # A pinned endpoint that lands in the SUBJECT slot of
                # its step must be subject-capable: literals (and
                # bnode constants — subject bnodes are rows, not
                # constants) can never occupy subject position. Refuse
                # clearly instead of failing deep in _pattern_scan
                # with a Py4J type error (ADVICE r5).
                subj_term = pat[0]
                if (
                    isinstance(subj_term, Obj)
                    and subj_term.kind != KIND_RESOURCE
                ):
                    which = "end" if subj_term is end else "start"
                    if swapped:  # report the USER's parameter name
                        which = "start" if which == "end" else "end"
                    raise ValueError(
                        f"property_path: {which}= pins a "
                        f"{subj_term.kind} constant into the subject "
                        f"position of step {i} "
                        f"({'inverse ' if a.startswith('^') else ''}"
                        f"'{a}') — only IRIs can occupy subject position"
                    )
                frames.append(_pattern_scan(graph, pat)[0])
            step_df = frames[0]
            for f in frames[1:]:
                step_df = step_df.unionByName(f)
            if not step_df.columns:  # both endpoints pinned: witness rows
                step_df = step_df.select(F.lit(1).alias("_w"))
        if cur is None:
            cur, bound = step_df, set(step_df.columns)
        else:
            shared = sorted(bound & set(step_df.columns))
            if not shared:
                # both endpoints of this step pinned mid-chain cannot
                # happen (internal terms are always hop variables)
                raise AssertionError("disconnected path step")
            cur = cur.join(step_df, on=shared)
            bound |= set(step_df.columns)

    # distinct AFTER projecting away the internal hop vars — deduping
    # the full embedding first would keep one row per hop witness.
    # Pinned endpoints drop out of the projection by construction;
    # with both endpoints pinned the hop bindings are the witness rows.
    keep = [c for c in ("src", "dst") if c in bound]
    out = cur.select(*keep) if keep else cur
    if swapped:
        ren = {"src": "dst", "dst": "src"}
        out = out.select(
            *[F.col(c).alias(ren.get(c, c)) for c in out.columns]
        )
        order = [c for c in ("src", "dst") if c in out.columns]
        if order:
            out = out.select(*order)
    # a lone quantified step is distinct already: its closure pairs
    # are, and a pinned endpoint keeps one pair per remaining column
    lone_closure = len(steps) == 1 and steps[0][1:] != (1, 1)
    return out.distinct() if distinct and not lone_closure else out


def parse_bgp(text: str) -> list[Pattern]:
    """Parse a SPARQL-ish whitespace pattern string into the pattern
    list bgp_match takes — a convenience front-end, not a SPARQL
    parser (no PREFIX, no FILTER expressions, no grouping).

        parse_bgp('?d kg:mentions ?e . ?d kg:source src:web')

    Term syntax per position:
      ?name                         variable
      bare-token                    IRI (subject/predicate/object)
      "text"                        xsd:string literal (object only)
      "text"@lang                   lang-tagged literal
      "text"^^type                  typed literal
      _:label                       bnode (object only — subject
                                    bnodes are rows, not constants)
    Patterns separate on a standalone '.' token (NT style; a trailing
    dot is optional). Quoted text may contain spaces, dots, and
    escaped quotes (\\")."""
    import re

    # tokenize FIRST (a quoted literal is one token even when it
    # contains spaces, dots, or escaped quotes), THEN split the token
    # stream on standalone '.' separators
    token_re = re.compile(
        r'"(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9-]+|\^\^\S+)?|\S+'
    )
    groups: list[list[str]] = [[]]
    for tok in token_re.findall(text):
        if tok == ".":
            if groups[-1]:
                groups.append([])
        else:
            groups[-1].append(tok)
    pats: list[Pattern] = []
    for toks in groups:
        if not toks:
            continue
        if len(toks) != 3:
            raise ValueError(
                f"parse_bgp: pattern needs 3 terms, got {toks!r}"
            )
        s, p, o = toks
        for t, pos in ((s, "subject"), (p, "predicate")):
            if t.startswith('"') or t.startswith("_:"):
                raise ValueError(
                    f"parse_bgp: {pos} constant must be an IRI or "
                    f"?var, got {t!r}"
                )
        pats.append((s, p, _parse_object_term(o)))
    return pats


def _parse_object_term(tok: str) -> Term:
    import re

    from triplestore_spark import schema as S

    if tok.startswith("?") or not (
        tok.startswith('"') or tok.startswith("_:")
    ):
        return tok  # variable or IRI string — bgp_match handles both
    if tok.startswith("_:"):
        return Obj(S.KIND_BNODE, tok[2:])
    m = re.fullmatch(
        r'"((?:[^"\\]|\\.)*)"(?:@([A-Za-z0-9-]+)|\^\^(\S+))?', tok
    )
    if not m:
        raise ValueError(f"parse_bgp: bad literal {tok!r}")
    value = m.group(1).replace('\\"', '"').replace("\\\\", "\\")
    if m.group(2):
        return Obj(S.KIND_LITERAL, value, "", m.group(2))
    return Obj(S.KIND_LITERAL, value, m.group(3) or S.XSD_STRING)


# ---------------------------------------------------------------- SQL

_OKEY_SQL = (
    "CASE WHEN {a}.object_kind = 'lit' THEN "
    "CASE WHEN {a}.object_lang <> '' THEN "
    "'\"' || {a}.object_value || '\"@' || {a}.object_lang "
    "ELSE '\"' || {a}.object_value || '\"^^<' || {a}.object_type || '>' END "
    "WHEN {a}.object_kind = 'bnode' THEN '_:' || {a}.object_value "
    "ELSE '<' || {a}.object_value || '>' END"
)
_SKEY_SQL = (
    "CASE WHEN {a}.subject_is_bnode THEN '_:' || {a}.subject "
    "ELSE '<' || {a}.subject || '>' END"
)
_PKEY_SQL = "'<' || {a}.predicate || '>'"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def bgp_match_sql(
    patterns: Sequence[Pattern] | str,
    table: str = "triples",
    *,
    optional: Sequence[Sequence[Pattern] | str] | None = None,
    anti: Sequence[Sequence[Pattern] | str] | None = None,
    exists: Sequence[Sequence[Pattern] | str] | None = None,
    values: tuple | dict | None = None,
    distinct: bool = True,
) -> str:
    """ANSI-SQL equivalent of bgp_match over a component-column triple
    table — the independent oracle for differential tests (DuckDB runs
    it verbatim). Same node-key semantics, same join graph, expressed
    as self-joins instead of the DataFrame plan. `optional` groups
    become LEFT JOINs of the group's own BGP subquery on the shared
    variables, `anti` groups correlated NOT EXISTS predicates, and
    `exists` groups correlated EXISTS predicates,
    mirroring bgp_match's well-designed-pattern semantics (the same
    validation errors are raised). `values` becomes a JOIN against an
    inline VALUES table with NULL-as-UNDEF wildcard conditions."""
    if isinstance(patterns, str):
        patterns = parse_bgp(patterns)
    if values is not None:
        vnames, vrows = _norm_values(values)
        bound_vars = set(_pattern_vars(patterns))
        unbound = [v for v in vnames if v not in bound_vars]
        if unbound:
            raise ValueError(
                f"bgp values: variables {unbound} are not bound by "
                "the required patterns"
            )
        inner = bgp_match_sql(
            patterns, table, optional=optional, anti=anti,
            exists=exists, distinct=False,
        )
        rows_sql = ", ".join(
            "("
            + ", ".join(
                _sql_str(x) if x is not None else "CAST(NULL AS VARCHAR)"
                for x in r
            )
            + ")"
            for r in vrows
        )
        conds = " AND ".join(
            f"(v.{n} IS NULL OR v.{n} = q.{n})" for n in vnames
        )
        kw = "DISTINCT " if distinct else ""
        return (
            f"SELECT {kw}q.* FROM ({inner}) q JOIN "
            f"(VALUES {rows_sql}) v({', '.join(vnames)}) ON {conds}"
        )
    if optional is not None:
        if any(isinstance(g, dict) for g in optional):
            raise ValueError(
                "bgp_match_sql: optional groups with filters have no "
                "SQL twin — differential-test them by prefiltering "
                "the arm on the DataFrame side"
            )
        optional = [
            parse_bgp(g) if isinstance(g, str) else g for g in optional
        ]
    if anti is not None:
        anti = [parse_bgp(g) if isinstance(g, str) else g for g in anti]
    if exists is not None:
        exists = [
            parse_bgp(g) if isinstance(g, str) else g for g in exists
        ]
    for pat in patterns:
        if len(pat) == 3 and _is_path_pred(pat[1]):
            raise ValueError(
                "bgp_match_sql: path-expression predicates have no "
                "self-join SQL form — use property_path_sql for the "
                "path and join it in"
            )
    if optional or anti or exists:
        return _bgp_composite_sql(
            patterns, optional or [], anti or [], exists or [],
            table=table, distinct=distinct,
        )
    if not patterns:
        raise ValueError("no patterns")
    var_order: list[str] = []
    wheres: list[str] = []
    gates: list[str] = []
    selects: dict[str, str] = {}
    aliases: list[str] = []
    for i, (s, p, o) in enumerate(patterns):
        a = f"t{i}"
        if not any(_is_var(t) for t in (s, p, o)):
            # existence gate — EXISTS keeps bag semantics identical to
            # the DataFrame version's broadcast limit-1 factor
            gate_wheres: list[str] = []
            ob = _as_obj(o)
            gate_wheres.append(f"{a}.subject = {_sql_str(s)}")
            gate_wheres.append(f"{a}.predicate = {_sql_str(p)}")
            gate_wheres.append(
                f"{a}.object_kind = {_sql_str(ob.kind)} AND "
                f"{a}.object_value = {_sql_str(ob.value)} AND "
                f"{a}.object_lang = {_sql_str(ob.lang or '')}"
            )
            if ob.kind == "lit" and not ob.lang:
                gate_wheres.append(f"{a}.object_type = {_sql_str(ob.typ)}")
            gates.append(
                "EXISTS (SELECT 1 FROM "
                + table
                + f" {a} WHERE "
                + " AND ".join(f"({w})" for w in gate_wheres)
                + ")"
            )
            continue
        aliases.append(a)
        for term, key_sql, const_sql in (
            (s, _SKEY_SQL, lambda t, a=a: f"{a}.subject = {_sql_str(t)}"),
            (p, _PKEY_SQL, lambda t, a=a: f"{a}.predicate = {_sql_str(t)}"),
            (o, _OKEY_SQL, None),
        ):
            if _is_var(term):
                v = _var(term)
                expr = key_sql.format(a=a)
                if v in selects:
                    wheres.append(f"{selects[v]} = {expr}")
                else:
                    selects[v] = expr
                    if v not in var_order:
                        var_order.append(v)
            elif const_sql is not None:
                wheres.append(const_sql(term))
            else:
                ob = _as_obj(o)
                wheres.append(
                    f"{a}.object_kind = {_sql_str(ob.kind)} AND "
                    f"{a}.object_value = {_sql_str(ob.value)} AND "
                    f"{a}.object_lang = {_sql_str(ob.lang or '')}"
                )
                if ob.kind == "lit" and not ob.lang:
                    wheres.append(f"{a}.object_type = {_sql_str(ob.typ)}")
    if not aliases:
        raise ValueError("every pattern is constant-only")
    kw = "DISTINCT " if distinct else ""
    cols = ", ".join(f"{selects[v]} AS {v}" for v in var_order)
    frm = ", ".join(f"{table} {a}" for a in aliases)
    conds = [f"({w})" for w in wheres] + gates
    where = " AND ".join(conds) if conds else "TRUE"
    return f"SELECT {kw}{cols} FROM {frm} WHERE {where}"


def _norm_opt_group(g):
    """Normalize one optional-group entry: a parse string or pattern
    list stays a pattern list; a dict carries 'patterns' plus its own
    'filters' (SPARQL FILTER inside OPTIONAL — the filter conditions
    whether the group binds, it never drops required rows)."""
    if isinstance(g, str):
        return parse_bgp(g)
    if isinstance(g, dict):
        g = dict(g)
        if "patterns" not in g:
            raise ValueError("optional group dict needs a 'patterns' key")
        if isinstance(g["patterns"], str):
            g["patterns"] = parse_bgp(g["patterns"])
        bad = set(g) - {"patterns", "filters"}
        if bad:
            raise ValueError(
                f"optional group dict: unknown keys {sorted(bad)}"
            )
        return g
    return g


def _opt_patterns(g) -> Sequence[Pattern]:
    return g["patterns"] if isinstance(g, dict) else g


def _pattern_vars(patterns: Sequence[Pattern]) -> list[str]:
    """Variable names of a pattern list in first-appearance order."""
    out: list[str] = []
    for pat in patterns:
        for t in pat:
            if _is_var(t) and _var(t) not in out:
                out.append(_var(t))
    return out


def _bgp_composite_sql(
    patterns: Sequence[Pattern],
    optional: Sequence[Sequence[Pattern]],
    anti: Sequence[Sequence[Pattern]],
    exists: Sequence[Sequence[Pattern]] = (),
    *,
    table: str,
    distinct: bool,
) -> str:
    """Required BGP subquery, filtered by one correlated NOT EXISTS
    per anti group (EXISTS per exists group), LEFT-JOINed with one
    subquery per optional group on their shared variables — the
    relational twin of bgp_match's exists/anti/optional path, with
    identical well-designedness checks so both compilers refuse the
    same inputs. (The WHERE runs on required-side columns only, so
    filtering after the left joins is equivalent to bgp_match's
    required -> exists/anti -> optional order, and a correlated
    EXISTS never duplicates solutions — same guarantee as the
    DataFrame side's left-semi join.)"""
    req_vars = _pattern_vars(patterns)
    req_sql = bgp_match_sql(patterns, table, distinct=False)
    var_order = list(req_vars)
    claimed: set[str] = set()
    joins: list[str] = []
    not_exists: list[str] = []
    for kind, groups, neg in (("exists", exists, ""),
                              ("anti", anti, "NOT ")):
        for gi, group in enumerate(groups):
            gvars = _pattern_vars(group)
            shared = sorted(set(req_vars) & set(gvars))
            if not shared:
                raise ValueError(
                    f"bgp_match: {kind} group {gi} shares no variable "
                    "with the required patterns (not well-designed)"
                )
            g_sql = bgp_match_sql(group, table, distinct=False)
            al = f"{kind[0]}{gi}"
            on = " AND ".join(f"{al}.{v} = req.{v}" for v in shared)
            not_exists.append(
                f"{neg}EXISTS (SELECT 1 FROM ({g_sql}) {al} WHERE {on})"
            )
    for gi, group in enumerate(optional):
        gvars = _pattern_vars(group)
        shared = sorted(set(req_vars) & set(gvars))
        new = set(gvars) - set(req_vars)
        if not shared:
            raise ValueError(
                f"bgp_match: optional group {gi} shares no variable "
                "with the required patterns (not well-designed)"
            )
        leaked = new & claimed
        if leaked:
            raise ValueError(
                f"bgp_match: optional group {gi} reuses variables "
                f"{sorted(leaked)} from another optional group "
                "(not well-designed)"
            )
        claimed |= new
        g_sql = bgp_match_sql(group, table, distinct=False)
        on = " AND ".join(f"req.{v} = g{gi}.{v}" for v in shared)
        joins.append(f"LEFT JOIN ({g_sql}) g{gi} ON {on}")
        for v in gvars:
            if v not in var_order:
                var_order.append(v)

    def src(v: str) -> str:
        if v in req_vars:
            return f"req.{v}"
        for gi, group in enumerate(optional):
            if v in _pattern_vars(group):
                return f"g{gi}.{v}"
        raise AssertionError(v)

    kw = "DISTINCT " if distinct else ""
    cols = ", ".join(f"{src(v)} AS {v}" for v in var_order)
    sql = f"SELECT {kw}{cols} FROM ({req_sql}) req " + " ".join(joins)
    if not_exists:
        sql += " WHERE " + " AND ".join(not_exists)
    return sql


def property_path_sql(
    path: Sequence[str | Sequence[str]],
    table: str = "triples",
    *,
    start: Term | None = None,
    end: Term | None = None,
    closure_max_depth: int = 64,
) -> str:
    """ANSI-SQL twin of property_path (set semantics), quantified
    steps included: each fixed-length step is a join against that
    step's one-hop edge subquery, each quantified step a WITH
    RECURSIVE closure over it — the structurally independent oracle
    (DuckDB runs it verbatim) for the Kleene paths. Bounded
    quantifiers carry a depth column capped in the recursive arm;
    unbounded ones rely on UNION's (src, cur) dedup for cycle-safe
    termination, the same set semantics as the DataFrame closure's
    min-depth merge.

    Same endpoint rules as property_path, including walking a leading
    unrooted closure backward from a pinned end (the result columns
    are swapped back)."""
    if not path:
        raise ValueError("property_path_sql: empty path")
    steps = _parse_path_steps(path)
    swapped = False
    if start is None and steps[0][1:] != (1, 1):
        if end is not None or steps[-1][1:] == (1, 1):
            steps = [_invert_parsed_step(s) for s in reversed(steps)]
            start, end = end, None
            swapped = True
            if start is None and steps[0][1:] != (1, 1):
                raise ValueError(
                    "property_path_sql: closure step with neither "
                    "endpoint pinned nor a fixed-length step to seed "
                    "from"
                )
        else:
            raise ValueError(
                "property_path_sql: leading closure step needs a "
                "pinned start (or a pinned end to walk backward from)"
            )

    def edge_sql(alts) -> str:
        skey = _SKEY_SQL.format(a="t")
        okey = _OKEY_SQL.format(a="t")
        if _negated(alts):
            # negated property set: one complement scan
            excl = ", ".join(_sql_str(a[1:]) for a in alts)
            return (
                f"SELECT {skey} AS es, {okey} AS ed FROM {table} t "
                f"WHERE t.predicate NOT IN ({excl})"
            )
        parts = []
        for a in alts:
            if isinstance(a, _SeqGroup):
                # sequence group: compose the inner hops' edge
                # subqueries with one join per hop, unioned in
                # alongside the plain hops (twin of _closure_edges and
                # _seq_edges)
                subs = [edge_sql(st.alts) for st in _fixed_hops(a.steps)]
                frm = f"({subs[0]}) h0"
                for k in range(1, len(subs)):
                    frm += (
                        f" JOIN ({subs[k]}) h{k} ON h{k-1}.ed = h{k}.es"
                    )
                parts.append(
                    f"SELECT DISTINCT h0.es AS es, "
                    f"h{len(subs) - 1}.ed AS ed FROM {frm}"
                )
                continue
            if a.startswith("^"):
                es, ed, pred = okey, skey, a[1:]
            else:
                es, ed, pred = skey, okey, a
            parts.append(
                f"SELECT {es} AS es, {ed} AS ed FROM {table} t "
                f"WHERE t.predicate = {_sql_str(pred)}"
            )
        return " UNION ALL ".join(parts)

    ctes: list[str] = []
    prev: str | None = None  # CTE name of bindings so far
    has_src = start is None
    src_sel = "b.src, " if has_src else ""
    for i, (alts, lo, hi) in enumerate(steps):
        e = f"e{i}"
        ctes.append(f"{e} AS ({edge_sql(alts)})")
        if (lo, hi) == (1, 1):
            if any(isinstance(a, _SeqGroup) for a in alts):
                # mirror the engine's refusal for twin parity
                raise ValueError(
                    "property_path_sql: a sequence alternative needs "
                    "a quantifier on the step"
                )
            if prev is None:
                if start is None:
                    sel = f"SELECT DISTINCT es AS src, ed AS cur FROM {e}"
                else:
                    sel = (
                        f"SELECT DISTINCT ed AS cur FROM {e} "
                        f"WHERE es = {_sql_str(_term_key(start))}"
                    )
            else:
                sel = (
                    f"SELECT DISTINCT {src_sel}e.ed AS cur "
                    f"FROM {prev} b JOIN {e} e ON b.cur = e.es"
                )
            ctes.append(f"b{i} AS ({sel})")
        else:
            # seed: `lo` mandatory exact hops from the bindings so far
            if prev is None:
                base = (
                    f"(SELECT {_sql_str(_term_key(start))} AS cur) b"
                )
            else:
                base = f"{prev} b"
            if lo == 0:
                seed = f"SELECT DISTINCT {src_sel}b.cur AS cur FROM {base}"
            else:
                joins, last = [], "b.cur"
                for k in range(lo):
                    joins.append(f"JOIN {e} x{k} ON {last} = x{k}.es")
                    last = f"x{k}.ed"
                seed = (
                    f"SELECT DISTINCT {src_sel}{last} AS cur "
                    f"FROM {base} " + " ".join(joins)
                )
            ctes.append(f"s{i} AS ({seed})")
            csrc = "src, " if has_src else ""
            if hi is None:
                rec = (
                    f"c{i}( {csrc}cur) AS ("
                    f"SELECT {csrc}cur FROM s{i} UNION "
                    f"SELECT {'c.src, ' if has_src else ''}e.ed "
                    f"FROM c{i} c JOIN {e} e ON c.cur = e.es)"
                )
                ctes.append(rec)
                ctes.append(
                    f"b{i} AS (SELECT DISTINCT {csrc}cur FROM c{i})"
                )
            else:
                depth_cap = hi - lo
                rec = (
                    f"c{i}({csrc}cur, d) AS ("
                    f"SELECT {csrc}cur, 0 AS d FROM s{i} UNION "
                    f"SELECT {'c.src, ' if has_src else ''}e.ed, c.d + 1 "
                    f"FROM c{i} c JOIN {e} e ON c.cur = e.es "
                    f"WHERE c.d < {depth_cap})"
                )
                ctes.append(rec)
                ctes.append(
                    f"b{i} AS (SELECT DISTINCT {csrc}cur FROM c{i})"
                )
        prev = f"b{i}"

    out_cols = []
    where = ""
    if swapped:
        # the computed 'src' column holds the ORIGINAL dst bindings
        # and 'cur' the original src; end is always None here
        out_cols.append("cur AS src")
        if has_src:
            out_cols.append("src AS dst")
    else:
        if has_src:
            out_cols.append("src")
        if end is None:
            out_cols.append("cur AS dst")
        else:
            where = f" WHERE cur = {_sql_str(_term_key(_as_obj(end)))}"
            if not out_cols:
                out_cols.append("1 AS _w")
    sql = (
        "WITH RECURSIVE "
        + ", ".join(ctes)
        + f" SELECT DISTINCT {', '.join(out_cols)} FROM {prev}{where}"
    )
    return sql
