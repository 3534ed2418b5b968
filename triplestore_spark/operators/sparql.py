"""SPARQL text front door: parse a practical SPARQL 1.1 subset and
execute it on the existing BGP machinery.

The reference library is queried programmatically (source.go's
WithX lookups); this repo already generalizes that surface to
conjunctive BGPs, property paths, OPTIONAL/NOT-EXISTS, FILTER,
VALUES, UNION, aggregation, and CONSTRUCT/ASK/DESCRIBE — but only as
Python calls. KG users write SPARQL text. `sparql_query(graph, text)`
compiles the text onto those operators, so every clause executes
through the same plans (layout routing, filter pushdown, frontier
closure) the programmatic API is plan-tested and driver-oracled for.
The parser adds NO new execution semantics: each construct maps 1:1
to a bgp_match / bgp_select / bgp_union / bgp_construct argument, and
anything outside the engine's (deliberately scale-safe) surface is
refused with a clear error instead of silently approximated.

Supported grammar (case-insensitive keywords)::

    PREFIX pfx: <iri>                      -- any number
    SELECT [DISTINCT] (* | ?v ... | (AGG AS ?alias) ...
                       | (bindexpr AS ?alias) ...  -- a trailing BIND;
                         plain groups only (aggregate outputs are
                         typed values, not node keys))
        WHERE { group } [GROUP BY ?v ...] [HAVING (cond) ...]
        [ORDER BY cond ...] [LIMIT n] [OFFSET m]
        (LIMIT/OFFSET in either order; OFFSET requires ORDER BY —
        skipping engine-chosen row order is a silent wrong answer)
    ASK { group }
    CONSTRUCT { triples } WHERE { group }
    DESCRIBE <node> | DESCRIBE ?v WHERE { group }
        (RDFGraph.describe: one semi-join per role on (name,
        is_bnode) — the node set is never collected)

    group    := triples and any of:
                  OPTIONAL { triples [FILTER (...)] ... }
                  MINUS { triples } | FILTER [NOT] EXISTS { triples }
                  FILTER ( constraint ) | FILTER regex(?v, "re")
                  BIND ( bindexpr AS ?new )
                  VALUES ?v { terms } | VALUES (?a ?b) { (t t) ... }
                  { SELECT ... }   -- subquery: evaluated first, its
                                   solutions join on shared variables;
                                   aggregate columns re-encode as
                                   canonical node keys (exact types
                                   only — AVG/double/timestamp are
                                   refused at the boundary, compare
                                   those inside via HAVING)
                or  { group } UNION { group } [UNION ...]
    bindexpr := constant | ?v | STR(?v) | CONCAT(args...) |
                UCASE/LCASE(?v) | SUBSTR(?v, s[, l]) |
                STRBEFORE/STRAFTER(?v, "sep") |
                REPLACE(?v, "re", "rep") | STRLEN(?v) |
                COALESCE(bindexpr, ...) | IF(constraint, e1, e2) |
                numop (+|-|*) numop  with numop := xsd:integer(?v)
                | integer (typed integer arithmetic only — the one
                numeric whose lexical re-encode is exact; COALESCE
                and IF are exact for ANY expressions because they
                SELECT among keys, never re-encode); CONCAT
                args are STR(?v), ?v, or plain "strings"; a FILTER
                inside OPTIONAL conditions whether the group binds
                (its variables must be the group's own)
    triples  := s p o [, o ...] [; p o ...] .  with property paths
                in the predicate position: p1/p2, ^p, p1|p2, p*, p+,
                p?, p{m,n}, !(p1|p2), (p1|p2)*, (p1/p2)* (closure
                over the composed sequence relation), a  (rdf:type);
                a path compiles straight to the engine's parsed
                steps (bgp._Step / bgp._SeqGroup), never to its
                string syntax, so an IRI's own '/' is never a hop
    constraint := operand op operand where an operand is ?v,
                xsd:T(?v), or a literal (at least one a variable);
                op in < <= > >= = != ; regex(?v, "re").
                ?a = ?b without casts is sameTerm over node keys;
                ordered ?a < ?b needs a cast on at least one side.
                Builtin tests (bare or inside the parens):
                STRSTARTS/STRENDS/CONTAINS(?v, "s"), STRLEN(?v) op n,
                isIRI/isURI/isLiteral/isBlank(?v) (negatable with !),
                BOUND(?v) (negatable — applies AFTER the optional
                joins, the negative-optional idiom),
                ?v [NOT] IN (term, ...) (sameTerm membership over
                node keys),
                LANG(?v) = "tag", LANGMATCHES(LANG(?v), "range"|"*"),
                DATATYPE(?v) = xsd:T
    AGG      := COUNT(*) | COUNT([DISTINCT] ?v) | SAMPLE(?v) |
                GROUP_CONCAT(?v [; SEPARATOR="s"]) |
                SUM|AVG|MIN|MAX(xsd:T(?v))   (the cast names the
                decode type — ordering/adding lexical forms of
                unknown datatypes is a silent wrong answer, so the
                typed aggregates REQUIRE it, same as the Python API)

Deliberate subset boundaries (each raises SparqlParseError naming
the construct): subqueries inside UNION arms / OPTIONAL / MINUS
(lift them out), BIND expressions outside the typed
subset above (float arithmetic — engine-specific float
formatting would silently diverge from the Go-parity constructors),
OFFSET without ORDER BY, property paths that don't factor into
steps (alternation of sequences ((a/b)|c), nested quantifiers
((p*)+)), and mixing triples with UNION
blocks in one group. Aggregation over UNION aggregates the unioned
solution multiset (bag union feeding one hash aggregation).
Prefixed names with
an UNDECLARED prefix pass through verbatim — this repo's graphs
store compact IRIs ('kg:mentions', 'rdf:type') literally, so
undeclared prefixes are how queries address them; `a` maps to the
token 'rdf:type' and expands through the same rule iff 'rdf:' is
declared. REDUCED is treated as DISTINCT (the spec allows any amount
of duplicate elimination). MINUS compiles to the engine's anti-join
(NOT EXISTS semantics); the spec's MINUS differs only for groups
sharing NO variables, which the engine refuses anyway.
"""

from __future__ import annotations

import re
from typing import Sequence

from triplestore_spark import schema as S
from triplestore_spark.dsl import Obj
from triplestore_spark.operators.bgp import (
    PathExpr,
    _invert_parsed_step,
    _is_path_pred,
    _SeqGroup,
    _Step,
    strip_node_key,
)

__all__ = [
    "SparqlParseError",
    "parse_sparql",
    "parse_sparql_update",
    "sparql_query",
    "sparql_update",
]


class SparqlParseError(ValueError):
    pass


# ------------------------------------------------------------ tokens

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<STRING>"(?:[^"\\]|\\.)*"
      (?:@[A-Za-z0-9-]+|\^\^(?:<[^<>]*>|[A-Za-z_][\w.:-]*))?)
  | (?P<IRI><[^<>\s]*>)
  | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<NUM>[+-]?(?:\d+\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?))
  | (?P<BNODE>_:[A-Za-z0-9][A-Za-z0-9_-]*)
  | (?P<WORD>[A-Za-z_][A-Za-z0-9_\-]*
      (?::[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?)?)
  | (?P<OP>>=|<=|!=|[{}()\[\],;.=<>!^/|*+?:])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "PREFIX", "BASE", "SELECT", "ASK", "CONSTRUCT", "DESCRIBE",
    "WHERE", "DISTINCT", "REDUCED", "OPTIONAL", "FILTER", "MINUS",
    "VALUES", "UNION", "GROUP", "BY", "HAVING", "ORDER", "ASC",
    "DESC", "LIMIT", "OFFSET", "NOT", "EXISTS", "AS", "UNDEF",
    "BIND", "REGEX", "SEPARATOR", "INSERT", "DELETE", "DATA",
    "WITH", "USING", "GRAPH", "LOAD", "CLEAR", "DROP", "CREATE",
}

_AGG_FUNCS = {
    "COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT",
}

_RDF_TYPE = "rdf:type"


def _tokenize(text: str) -> list[tuple[str, str, int]]:
    toks: list[tuple[str, str, int]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlParseError(
                f"sparql: cannot tokenize at offset {pos}: "
                f"{text[pos:pos + 20]!r}"
            )
        kind = m.lastgroup
        if kind != "WS":
            toks.append((kind, m.group(), pos))
        pos = m.end()
    toks.append(("EOF", "", len(text)))
    return toks


# ------------------------------------------------------------ parser


class _Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}

    # -- token cursor ------------------------------------------------

    def peek(self, ahead: int = 0) -> tuple[str, str, int]:
        j = min(self.i + ahead, len(self.toks) - 1)
        return self.toks[j]

    def next(self) -> tuple[str, str, int]:
        t = self.toks[self.i]
        if t[0] != "EOF":
            self.i += 1
        return t

    def error(self, msg: str) -> SparqlParseError:
        _, val, pos = self.peek()
        line = self.text.count("\n", 0, pos) + 1
        return SparqlParseError(
            f"sparql: {msg} (line {line}, near {val!r})"
        )

    def at_word(self, *kws: str) -> bool:
        k, v, _ = self.peek()
        return k == "WORD" and v.upper() in kws

    def take_word(self, *kws: str) -> bool:
        if self.at_word(*kws):
            self.next()
            return True
        return False

    def expect_word(self, kw: str) -> None:
        if not self.take_word(kw):
            raise self.error(f"expected {kw}")

    def at_op(self, op: str) -> bool:
        k, v, _ = self.peek()
        return k == "OP" and v == op

    def take_op(self, op: str) -> bool:
        if self.at_op(op):
            self.next()
            return True
        return False

    def expect_op(self, op: str) -> None:
        if not self.take_op(op):
            raise self.error(f"expected {op!r}")

    # -- prologue ----------------------------------------------------

    def parse(self) -> dict:
        while True:
            if self.take_word("PREFIX"):
                if self.at_op(":"):
                    raise self.error(
                        "the default prefix (PREFIX : <iri>) is not "
                        "supported — name it"
                    )
                k, v, _ = self.next()
                if k != "WORD" or ":" in v:
                    raise self.error("expected prefix name")
                name = v
                self.expect_op(":")
                ik, iv, _ = self.next()
                if ik != "IRI":
                    raise self.error("expected <iri> in PREFIX")
                self.prefixes[name] = iv[1:-1]
            elif self.at_word("BASE"):
                raise self.error("BASE is not supported")
            else:
                break
        if self.take_word("SELECT"):
            out = self._parse_select()
        elif self.take_word("ASK"):
            out = {"form": "ask", "where": self._parse_group()}
        elif self.take_word("CONSTRUCT"):
            out = self._parse_construct()
        elif self.take_word("DESCRIBE"):
            k, v, _ = self.peek()
            if k == "VAR":
                # DESCRIBE ?v WHERE { group }: describe every node
                # the variable binds to (a semi-join, never a
                # driver-side collect of the node set)
                self.next()
                var = "?" + v[1:]
                self.take_word("WHERE")
                where = self._parse_group()
                out = {
                    "form": "describe_var",
                    "var": var,
                    "where": where,
                }
            else:
                node = self._parse_term("subject")
                if not isinstance(node, str) or node.startswith("?"):
                    raise self.error(
                        "DESCRIBE takes a constant IRI or ?var WHERE"
                    )
                out = {"form": "describe", "node": node}
        else:
            raise self.error("expected SELECT / ASK / CONSTRUCT / DESCRIBE")
        if self.peek()[0] != "EOF":
            raise self.error("unexpected trailing input")
        return out

    # -- UPDATE ------------------------------------------------------

    def parse_update(self) -> list[dict]:
        """SPARQL Update request: one or more statements separated by
        ';'. Each statement is INSERT DATA / DELETE DATA (constant
        triples), DELETE WHERE (pattern = template shorthand), or
        DELETE {tmpl} / INSERT {tmpl} / both, with WHERE."""
        while self.take_word("PREFIX"):
            k, v, _ = self.next()
            if k != "WORD" or ":" in v:
                raise self.error("expected prefix name")
            self.expect_op(":")
            ik, iv, _ = self.next()
            if ik != "IRI":
                raise self.error("expected <iri> in PREFIX")
            self.prefixes[v] = iv[1:-1]
        stmts = [self._parse_update_stmt()]
        while self.take_op(";"):
            if self.peek()[0] == "EOF":
                break
            stmts.append(self._parse_update_stmt())
        if self.peek()[0] != "EOF":
            raise self.error("unexpected trailing input")
        return stmts

    def _parse_update_stmt(self) -> dict:
        if self.at_word("WITH", "USING", "GRAPH", "LOAD", "CLEAR",
                        "DROP", "CREATE"):
            raise self.error(
                "named-graph / dataset update forms are not supported "
                "(this store is a single graph)"
            )
        if self.take_word("INSERT"):
            if self.take_word("DATA"):
                return {"op": "insert_data", "triples": self._parse_data()}
            tmpl = self._parse_template()
            self.expect_word("WHERE")
            return {
                "op": "modify",
                "delete": None,
                "insert": tmpl,
                "where": self._parse_group(),
            }
        if self.take_word("DELETE"):
            if self.take_word("DATA"):
                return {"op": "delete_data", "triples": self._parse_data()}
            if self.take_word("WHERE"):
                g = self._parse_group()
                if "union" in g:
                    raise self.error("DELETE WHERE over UNION is not supported")
                from triplestore_spark.operators.bgp import _is_path_pred

                for s, p, o in g["patterns"]:
                    if not isinstance(p, str) or _is_path_pred(p):
                        raise self.error(
                            "DELETE WHERE patterns must be plain "
                            "triples (no property paths)"
                        )
                return {
                    "op": "modify",
                    "delete": list(g["patterns"]),
                    "insert": None,
                    "where": g,
                }
            tmpl = self._parse_template()
            insert = None
            if self.take_word("INSERT"):
                insert = self._parse_template()
            self.expect_word("WHERE")
            return {
                "op": "modify",
                "delete": tmpl,
                "insert": insert,
                "where": self._parse_group(),
            }
        raise self.error("expected INSERT or DELETE")

    def _parse_template(self) -> list[tuple]:
        self.expect_op("{")
        tmpl: list[tuple] = []
        while not self.at_op("}"):
            tmpl.extend(self._parse_triples_same_subject(paths=False))
            if not self.take_op("."):
                break
        self.expect_op("}")
        if not tmpl:
            raise self.error("empty template")
        return tmpl

    def _parse_data(self) -> list:
        """INSERT DATA / DELETE DATA block -> driver Triples (constants
        only; '_:label' subjects become bnode rows)."""
        from triplestore_spark.dsl import Triple

        self.expect_op("{")
        out: list = []
        while not self.at_op("}"):
            if self.peek()[0] == "BNODE":
                subj_tok = self.next()[1]
                subj, is_bnode = subj_tok[2:], True
            else:
                t = self._parse_term("subject")
                if t.startswith("?"):
                    raise self.error("DATA blocks take constants only")
                subj, is_bnode = t, False
            while True:
                pred = self._parse_term("predicate")
                if pred.startswith("?"):
                    raise self.error("DATA blocks take constants only")
                while True:
                    o = self._parse_term("object")
                    if isinstance(o, str):
                        if o.startswith("?"):
                            raise self.error(
                                "DATA blocks take constants only"
                            )
                        o = Obj(S.KIND_RESOURCE, o)
                    out.append(Triple(subj, pred, o, is_bnode))
                    if not self.take_op(","):
                        break
                if not self.take_op(";"):
                    break
                if self.at_op(".") or self.at_op("}"):
                    break
            if not self.take_op("."):
                break
        self.expect_op("}")
        if not out:
            raise self.error("empty DATA block")
        return out

    # -- SELECT ------------------------------------------------------

    def _parse_select(self) -> dict:
        distinct = bool(self.take_word("DISTINCT", "REDUCED"))
        star = False
        proj: list[str] = []
        aggregates: dict[str, tuple] = {}
        select_binds: dict[str, tuple] = {}
        if self.take_op("*"):
            star = True
        else:
            while True:
                k, v, _ = self.peek()
                if k == "VAR":
                    self.next()
                    proj.append(v[1:])
                elif k == "OP" and v == "(":
                    self.next()
                    fk, fv, _ = self.peek()
                    if fk == "WORD" and fv.upper() in _AGG_FUNCS:
                        spec = self._parse_aggregate()
                        target = aggregates
                    else:
                        # SELECT expression: (expr AS ?x) over each
                        # solution — compiles to a trailing BIND
                        spec = self._parse_bind_expr()
                        target = select_binds
                    self.expect_word("AS")
                    ak, av, _ = self.next()
                    if ak != "VAR":
                        raise self.error("expected ?alias after AS")
                    self.expect_op(")")
                    alias = av[1:]
                    target[alias] = spec
                    proj.append(alias)
                else:
                    break
            if not proj:
                raise self.error("empty SELECT projection")
        self.take_word("WHERE")
        where = self._parse_group()
        group_by: list[str] = []
        having: list[tuple] = []
        order_by: list[tuple] = []
        limit = None
        if self.take_word("GROUP"):
            self.expect_word("BY")
            while self.peek()[0] == "VAR":
                group_by.append(self.next()[1][1:])
            if not group_by:
                raise self.error("empty GROUP BY")
        while self.take_word("HAVING"):
            self.expect_op("(")
            having.append(self._parse_having(aggregates))
            self.expect_op(")")
        if self.take_word("ORDER"):
            self.expect_word("BY")
            while True:
                cond = self._parse_order_cond()
                if cond is None:
                    break
                order_by.append(cond)
            if not order_by:
                raise self.error("empty ORDER BY")
        offset = None
        # LIMIT and OFFSET may come in either order, each at most once
        while self.at_word("LIMIT", "OFFSET"):
            kw = self.next()[1].upper()
            k, v, _ = self.next()
            if k != "NUM" or not v.isdigit():
                raise self.error(f"{kw} takes a non-negative integer")
            if kw == "LIMIT":
                if limit is not None:
                    raise self.error("duplicate LIMIT")
                limit = int(v)
            else:
                if offset is not None:
                    raise self.error("duplicate OFFSET")
                offset = int(v)
        if offset is not None and not order_by:
            raise self.error(
                "OFFSET without ORDER BY is nondeterministic (row "
                "order is engine-chosen) — add an ORDER BY"
            )
        return {
            "form": "select",
            "distinct": distinct,
            "star": star,
            "projection": None if star else proj,
            "aggregates": aggregates,
            "select_binds": select_binds,
            "group_by": group_by,
            "having": having,
            "order_by": order_by,
            "limit": limit,
            "offset": offset,
            "where": where,
        }

    def _parse_cast_var(self) -> tuple[str, str]:
        """xsd:T(?v) -> (var, type token). The cast token expands
        through the prefix map like any pname."""
        k, v, _ = self.next()
        if k not in ("WORD", "IRI"):
            raise self.error("expected a datatype cast like xsd:integer(?v)")
        typ = self._expand(v[1:-1]) if k == "IRI" else self._expand(v)
        self.expect_op("(")
        vk, vv, _ = self.next()
        if vk != "VAR":
            raise self.error("expected ?var inside the cast")
        self.expect_op(")")
        return vv[1:], typ

    def _parse_aggregate(self) -> tuple:
        k, v, _ = self.next()
        fn = v.upper() if k == "WORD" else ""
        if fn not in _AGG_FUNCS:
            raise self.error(
                "expected an aggregate (COUNT/SUM/AVG/MIN/MAX/"
                "SAMPLE/GROUP_CONCAT)"
            )
        self.expect_op("(")
        if fn == "COUNT":
            if self.take_op("*"):
                self.expect_op(")")
                return ("count", "*")
            if self.take_word("DISTINCT"):
                vk, vv, _ = self.next()
                if vk != "VAR":
                    raise self.error("expected ?var in COUNT(DISTINCT ...)")
                self.expect_op(")")
                return ("count_distinct", "?" + vv[1:])
            vk, vv, _ = self.next()
            if vk != "VAR":
                raise self.error("expected ?var in COUNT(...)")
            self.expect_op(")")
            return ("count", "?" + vv[1:])
        if fn == "SAMPLE":
            vk, vv, _ = self.next()
            if vk != "VAR":
                raise self.error("expected ?var in SAMPLE(...)")
            self.expect_op(")")
            return ("sample", "?" + vv[1:])
        if fn == "GROUP_CONCAT":
            vk, vv, _ = self.next()
            if vk != "VAR":
                raise self.error("expected ?var in GROUP_CONCAT(...)")
            sep = None
            if self.take_op(";"):
                self.expect_word("SEPARATOR")
                self.expect_op("=")
                sk, sv, _ = self.next()
                if sk != "STRING":
                    raise self.error("SEPARATOR takes a string")
                sep = _unquote(sv)[0]
            self.expect_op(")")
            if sep is None:
                return ("group_concat", "?" + vv[1:])
            return ("group_concat", "?" + vv[1:], sep)
        # SUM/AVG/MIN/MAX: REQUIRE the cast form naming the decode type
        k2, v2, _ = self.peek()
        if k2 == "VAR":
            raise self.error(
                f"{fn}(?v) needs a datatype cast — write "
                f"{fn}(xsd:integer(?v)) so the engine knows how to "
                "decode the literal (the bare form would order/add "
                "lexical strings)"
            )
        var, typ = self._parse_cast_var()
        self.expect_op(")")
        return (fn.lower(), "?" + var, typ)

    def _parse_having(self, aggregates: dict[str, tuple]) -> tuple:
        k, v, _ = self.peek()
        if k == "VAR":
            self.next()
            alias = v[1:]
        else:
            spec = self._parse_aggregate()
            matches = [a for a, s in aggregates.items() if s == spec]
            if not matches:
                raise self.error(
                    "HAVING aggregate must match a projected "
                    "(AGG AS ?alias) expression"
                )
            alias = matches[0]
        op = self._parse_comparator()
        val = self._parse_filter_constant()
        return (alias, op, val[0])

    def _parse_order_cond(self):
        if self.take_word("ASC"):
            direction = "asc"
        elif self.take_word("DESC"):
            direction = "desc"
        else:
            k, v, _ = self.peek()
            if k == "VAR":
                self.next()
                return (v[1:], "asc", None)
            if (
                k == "WORD"
                and v.upper() not in _KEYWORDS
                and self.peek(1)[0] == "OP"
                and self.peek(1)[1] == "("
            ):
                var, typ = self._parse_cast_var()
                return (var, "asc", typ)
            return None
        self.expect_op("(")
        k, v, _ = self.peek()
        if k == "VAR":
            self.next()
            cond = (v[1:], direction, None)
        else:
            var, typ = self._parse_cast_var()
            cond = (var, direction, typ)
        self.expect_op(")")
        return cond

    # -- CONSTRUCT ---------------------------------------------------

    def _parse_construct(self) -> dict:
        self.expect_op("{")
        template: list[tuple] = []
        while not self.at_op("}"):
            template.extend(self._parse_triples_same_subject(paths=False))
            if not self.take_op("."):
                break
        self.expect_op("}")
        if not template:
            raise self.error("empty CONSTRUCT template")
        self.take_word("WHERE")
        return {
            "form": "construct",
            "template": template,
            "where": self._parse_group(),
        }

    # -- WHERE group -------------------------------------------------

    def _parse_group(self) -> dict:
        self.expect_op("{")
        if self.at_op("{") and not self._peek_is_select(1):
            # either a lone nested group or a UNION chain of groups
            arms = [self._parse_group()]
            while self.take_word("UNION"):
                arms.append(self._parse_group())
            self.expect_op("}")
            if len(arms) == 1:
                return arms[0]
            for a in arms:
                if "union" in a:
                    raise self.error("nested UNION chains are not supported")
            return {"union": arms}
        g: dict = {
            "patterns": [],
            "optional": [],
            "anti": [],
            "exists": [],
            "filters": [],
            "bound": [],
            "bind": {},
            "values": None,
            "subqueries": [],
        }
        while not self.at_op("}"):
            if self.take_word("OPTIONAL"):
                sub = self._parse_group()
                if "union" in sub or sub["optional"] or sub["anti"] \
                        or sub["exists"] or sub["bind"] \
                        or sub["subqueries"] or sub["bound"] \
                        or sub["values"] is not None:
                    raise self.error(
                        "OPTIONAL groups support triple patterns "
                        "plus FILTER only"
                    )
                if sub["filters"]:
                    g["optional"].append({
                        "patterns": sub["patterns"],
                        "filters": sub["filters"],
                    })
                else:
                    g["optional"].append(sub["patterns"])
            elif self.take_word("MINUS"):
                g["anti"].append(self._parse_plain_subgroup("MINUS"))
            elif self.take_word("FILTER"):
                self._parse_filter_into(g)
            elif self.take_word("VALUES"):
                if g["values"] is not None:
                    raise self.error(
                        "one VALUES clause per group (the engine "
                        "takes a single inline-binding table)"
                    )
                g["values"] = self._parse_values()
            elif self.take_word("BIND"):
                self._parse_bind_into(g)
            elif self.at_word("SELECT"):
                raise self.error(
                    "a subquery needs its own braces: { SELECT ... }"
                )
            elif self.at_op("{") and self._peek_is_select(1):
                # SPARQL subquery: { SELECT ... } — evaluated first,
                # its solutions join the group on shared variables
                self.expect_op("{")
                self.expect_word("SELECT")
                g["subqueries"].append(self._parse_select())
                self.expect_op("}")
            elif self.at_op("{"):
                raise self.error(
                    "a group mixing triples with nested {...} blocks "
                    "is not supported (use a pure UNION group)"
                )
            else:
                g["patterns"].extend(self._parse_triples_same_subject())
                if not self.take_op("."):
                    if not (
                        self.at_op("}")
                        or self.at_word(
                            "OPTIONAL", "MINUS", "FILTER", "VALUES", "BIND"
                        )
                    ):
                        raise self.error("expected '.' between patterns")
        self.expect_op("}")
        return g

    def _peek_is_select(self, ahead: int) -> bool:
        k, v, _ = self.peek(ahead)
        return k == "WORD" and v.upper() == "SELECT"

    def _parse_plain_subgroup(self, what: str) -> list:
        sub = self._parse_group()
        if "union" in sub or sub["optional"] or sub["anti"] \
                or sub["exists"] or sub["bind"] or sub["subqueries"] \
                or sub["bound"] \
                or sub["filters"] or sub["values"] is not None:
            raise self.error(
                f"{what} groups support plain triple patterns only"
            )
        return sub["patterns"]

    def _parse_filter_into(self, g: dict) -> None:
        if self.take_word("NOT"):
            self.expect_word("EXISTS")
            g["anti"].append(self._parse_plain_subgroup("FILTER NOT EXISTS"))
            return
        if self.take_word("EXISTS"):
            g["exists"].append(self._parse_plain_subgroup("FILTER EXISTS"))
            return
        if self.at_word("REGEX"):
            g["filters"].append(self._parse_regex())
            return
        if self.at_word("BOUND"):
            g["bound"].append(self._parse_bound(True))
            return
        spec = self._parse_builtin_constraint()
        if spec is not None:
            g["filters"].append(spec)
            return
        self.expect_op("(")
        if self.at_word("REGEX"):
            g["filters"].append(self._parse_regex())
            self.expect_op(")")
            return
        neg = self.take_op("!")
        if self.at_word("BOUND"):
            g["bound"].append(self._parse_bound(not neg))
            self.expect_op(")")
            return
        if not neg and self.peek()[0] == "VAR" \
                and self.peek(1)[0] == "WORD" \
                and self.peek(1)[1].upper() in ("IN", "NOT"):
            # ?v IN ( term, ... ) / ?v NOT IN ( ... ): sameTerm
            # membership over node keys
            var = self._expect_var("IN")
            is_not = self.take_word("NOT")
            self.expect_word("IN")
            self.expect_op("(")
            keys = []
            while True:
                t = self._parse_values_term()
                if t is None:
                    raise self.error("IN terms must be constants")
                keys.append(t)
                if not self.take_op(","):
                    break
            self.expect_op(")")
            self.expect_op(")")
            g["filters"].append(
                (var, "not_in" if is_not else "in", keys)
            )
            return
        spec = self._parse_builtin_constraint(positive=not neg)
        if spec is not None:
            g["filters"].append(spec)
            self.expect_op(")")
            return
        if neg:
            raise self.error(
                "'!' negates the term tests only (isIRI/isLiteral/"
                "isBlank) — use the complementary operator otherwise"
            )
        g["filters"].append(self._parse_comparison())
        self.expect_op(")")

    _FN_STR_TESTS = {
        "STRSTARTS": "strstarts",
        "STRENDS": "strends",
        "CONTAINS": "contains",
    }
    _FN_KIND_TESTS = {
        "ISIRI": "isiri",
        "ISURI": "isiri",
        "ISLITERAL": "isliteral",
        "ISBLANK": "isblank",
    }

    def _parse_builtin_constraint(self, positive: bool = True):
        """One SPARQL builtin test call, or None if the lookahead is
        not one: STRSTARTS/STRENDS/CONTAINS(?v, "s"), isIRI/isURI/
        isLiteral/isBlank(?v), LANG(?v) = "tag",
        LANGMATCHES(LANG(?v), "tag"|"*"), DATATYPE(?v) = xsd:T,
        STRLEN(?v) op n. Returns the engine's filter-spec tuple
        (compile_binding_filter's builtin forms)."""
        k, v, _ = self.peek()
        if k != "WORD" or self.peek(1)[1] != "(":
            return None
        u = v.upper()
        if u in self._FN_STR_TESTS:
            if not positive:
                raise self.error(
                    f"negated {v}() is not supported — only the term "
                    "tests (isIRI/isLiteral/isBlank) negate"
                )
            self.next()
            self.expect_op("(")
            var = self._expect_var(f"{v}()")
            self.expect_op(",")
            sk, sv, _ = self.next()
            if sk != "STRING":
                raise self.error(f"{v}() takes (?var, \"string\")")
            value, lang, typ = _unquote(sv)
            if lang or typ:
                raise self.error(f"{v}() takes a plain string")
            self.expect_op(")")
            return (var, self._FN_STR_TESTS[u], value)
        if u in self._FN_KIND_TESTS:
            self.next()
            self.expect_op("(")
            var = self._expect_var(f"{v}()")
            self.expect_op(")")
            return (var, self._FN_KIND_TESTS[u], positive)
        if not positive and u in ("LANG", "LANGMATCHES", "DATATYPE",
                                  "STRLEN"):
            raise self.error(
                f"negated {v}() is not supported — only the term "
                "tests (isIRI/isLiteral/isBlank) negate"
            )
        if u == "LANG":
            self.next()
            self.expect_op("(")
            var = self._expect_var("LANG()")
            self.expect_op(")")
            if not self.take_op("="):
                raise self.error('LANG(?v) supports = "tag" only')
            sk, sv, _ = self.next()
            if sk != "STRING":
                raise self.error("LANG(?v) compares to a plain string")
            return (var, "lang", _unquote(sv)[0])
        if u == "LANGMATCHES":
            self.next()
            self.expect_op("(")
            self.expect_word("LANG")
            self.expect_op("(")
            var = self._expect_var("LANGMATCHES(LANG())")
            self.expect_op(")")
            self.expect_op(",")
            sk, sv, _ = self.next()
            if sk != "STRING":
                raise self.error(
                    'LANGMATCHES takes (LANG(?v), "range")'
                )
            self.expect_op(")")
            return (var, "langmatches", _unquote(sv)[0])
        if u == "DATATYPE":
            self.next()
            self.expect_op("(")
            var = self._expect_var("DATATYPE()")
            self.expect_op(")")
            if not self.take_op("="):
                raise self.error("DATATYPE(?v) supports = xsd:T only")
            tk, tv, _ = self.next()
            if tk == "IRI":
                return (var, "datatype", self._expand(tv[1:-1]))
            if tk == "WORD" and tv.upper() not in _KEYWORDS:
                return (var, "datatype", self._expand(tv))
            raise self.error("DATATYPE(?v) compares to a datatype IRI")
        if u == "STRLEN":
            self.next()
            self.expect_op("(")
            var = self._expect_var("STRLEN()")
            self.expect_op(")")
            op = self._parse_comparator()
            nk, nv, _ = self.next()
            if nk != "NUM" or not nv.isdigit():
                raise self.error(
                    "STRLEN(?v) compares to a non-negative integer"
                )
            return (var, "strlen", int(nv), "=" if op == "==" else op)
        return None

    def _expect_var(self, what: str) -> str:
        vk, vv, _ = self.next()
        if vk != "VAR":
            raise self.error(f"{what} takes a variable")
        return "?" + vv[1:]

    def _parse_bound(self, positive: bool) -> tuple:
        self.expect_word("BOUND")
        self.expect_op("(")
        var = self._expect_var("BOUND()")
        self.expect_op(")")
        return (var, positive)

    def _parse_regex(self) -> tuple:
        self.expect_word("REGEX")
        self.expect_op("(")
        vk, vv, _ = self.next()
        if vk != "VAR":
            raise self.error("regex() takes (?var, \"pattern\")")
        self.expect_op(",")
        sk, sv, _ = self.next()
        if sk != "STRING":
            raise self.error("regex() pattern must be a string literal")
        self.expect_op(")")
        return ("?" + vv[1:], "regex", _unquote(sv)[0])

    # -- BIND ----------------------------------------------------------

    def _parse_bind_into(self, g: dict) -> None:
        """BIND ( expr AS ?new ) -> g['bind'][?new] = compile_bind_expr
        spec. The target must be new to the group; later binds may
        read earlier ones (sequential scope, mirrored by the engine)."""
        self.expect_op("(")
        spec = self._parse_bind_expr()
        self.expect_word("AS")
        k, v, _ = self.next()
        if k != "VAR":
            raise self.error("BIND needs (expr AS ?var)")
        var = "?" + v[1:]
        if var in g["bind"]:
            raise self.error(f"BIND target {var} is already bound")
        self.expect_op(")")
        g["bind"][var] = spec

    def _parse_bind_expr(self) -> tuple:
        k, v, _ = self.peek()
        if k == "WORD" and v.upper() == "COALESCE" \
                and self.peek(1)[1] == "(":
            self.next()
            self.expect_op("(")
            subs = [self._parse_bind_expr()]
            while self.take_op(","):
                subs.append(self._parse_bind_expr())
            self.expect_op(")")
            return ("coalesce", subs)
        if k == "WORD" and v.upper() == "IF" \
                and self.peek(1)[1] == "(":
            self.next()
            self.expect_op("(")
            cond = self._parse_builtin_constraint()
            if cond is None:
                cond = self._parse_comparison()
            self.expect_op(",")
            then_s = self._parse_bind_expr()
            self.expect_op(",")
            else_s = self._parse_bind_expr()
            self.expect_op(")")
            return ("if", cond, then_s, else_s)
        if k == "WORD" and v.upper() == "STR" \
                and self.peek(1)[1] == "(":
            self.next()
            self.expect_op("(")
            vk, vv, _ = self.next()
            if vk != "VAR":
                raise self.error("STR() takes a variable")
            self.expect_op(")")
            return ("str", "?" + vv[1:])
        if k == "WORD" and v.upper() in ("UCASE", "LCASE", "STRLEN") \
                and self.peek(1)[1] == "(":
            fn = v.upper()
            self.next()
            self.expect_op("(")
            var = self._expect_var(f"{fn}()")
            self.expect_op(")")
            return (fn.lower(), var)
        if k == "WORD" and v.upper() == "SUBSTR" \
                and self.peek(1)[1] == "(":
            self.next()
            self.expect_op("(")
            var = self._expect_var("SUBSTR()")
            self.expect_op(",")
            sk, sv, _ = self.next()
            if sk != "NUM" or not sv.isdigit():
                raise self.error("SUBSTR start must be an integer")
            length = None
            if self.take_op(","):
                lk, lv, _ = self.next()
                if lk != "NUM" or not lv.isdigit():
                    raise self.error("SUBSTR length must be an integer")
                length = int(lv)
            self.expect_op(")")
            return ("substr", var, int(sv), length)
        if k == "WORD" and v.upper() in ("STRBEFORE", "STRAFTER") \
                and self.peek(1)[1] == "(":
            fn = v.upper().lower()
            self.next()
            self.expect_op("(")
            var = self._expect_var(f"{v}()")
            self.expect_op(",")
            sk, sv, _ = self.next()
            if sk != "STRING":
                raise self.error(f'{v} takes (?v, "separator")')
            value, lang, typ = _unquote(sv)
            if lang or typ:
                raise self.error(f"{v} takes a plain string")
            self.expect_op(")")
            return (fn, var, value)
        if k == "WORD" and v.upper() == "REPLACE" \
                and self.peek(1)[1] == "(":
            self.next()
            self.expect_op("(")
            var = self._expect_var("REPLACE()")
            args = []
            for _i in range(2):
                self.expect_op(",")
                sk, sv, _ = self.next()
                if sk != "STRING":
                    raise self.error(
                        'REPLACE takes (?v, "regex", "replacement")'
                    )
                value, lang, typ = _unquote(sv)
                if lang or typ:
                    raise self.error("REPLACE takes plain strings")
                args.append(value)
            self.expect_op(")")
            return ("replace", var, args[0], args[1])
        if k == "WORD" and v.upper() == "CONCAT" \
                and self.peek(1)[1] == "(":
            self.next()
            self.expect_op("(")
            args = []
            while True:
                ak, av, _ = self.peek()
                if ak == "VAR":
                    self.next()
                    args.append(("str", "?" + av[1:]))
                elif ak == "STRING":
                    self.next()
                    value, lang, typ = _unquote(av)
                    if lang or typ:
                        raise self.error(
                            "CONCAT takes plain strings and variables"
                        )
                    args.append(("lit", value))
                elif ak == "WORD" and av.upper() == "STR":
                    self.next()
                    self.expect_op("(")
                    vk, vv, _ = self.next()
                    if vk != "VAR":
                        raise self.error("STR() takes a variable")
                    self.expect_op(")")
                    args.append(("str", "?" + vv[1:]))
                else:
                    raise self.error(
                        "CONCAT takes plain strings and variables"
                    )
                if not self.take_op(","):
                    break
            self.expect_op(")")
            if not args:
                raise self.error("empty CONCAT")
            return ("concat", args)
        # typed arithmetic: numop (+|-|*) numop
        if (k == "WORD" and v.upper() not in _KEYWORDS
                and self.peek(1)[1] == "(") or (
                k == "NUM" and self.peek(1)[1] in ("+", "-", "*")):
            a, typ_a = self._parse_bind_numop()
            ok, ov, _ = self.peek()
            if not (ok == "OP" and ov in ("+", "-", "*")):
                raise self.error(
                    "a bare cast is not a BIND expression — add an "
                    "arithmetic op (or bind the variable directly)"
                )
            self.next()
            b, typ_b = self._parse_bind_numop()
            typ = typ_a or typ_b
            if typ is None:
                raise self.error(
                    "BIND arithmetic needs a cast on at least one "
                    "side (e.g. xsd:integer(?x) + 1)"
                )
            if typ_a and typ_b and typ_a != typ_b:
                raise self.error(
                    f"BIND casts disagree ({typ_a} vs {typ_b})"
                )
            if typ != S.XSD_INTEGER:
                raise self.error(
                    "BIND arithmetic supports xsd:integer only (the "
                    "one type whose lexical re-encode is exact)"
                )
            return ("arith", ov, a, b, typ)
        if k == "VAR":
            self.next()
            if self.peek()[1] in ("+", "-", "*"):
                raise self.error(
                    "BIND arithmetic needs a cast (e.g. "
                    "xsd:integer(?x) + 1)"
                )
            return ("var", "?" + v[1:])
        # constant term: IRI / pname / string / number / boolean
        if k == "WORD" and v.upper() in ("TRUE", "FALSE"):
            self.next()
            t = Obj(S.KIND_LITERAL, v.lower(), S.XSD_BOOLEAN)
            return ("const", t.okey())
        t = self._parse_term("object")
        if isinstance(t, str):
            if t.startswith("?"):
                raise self.error("BIND expression variable misparse")
            return ("const", f"<{t}>")
        return ("const", t.okey())

    def _parse_bind_numop(self) -> tuple:
        """One arithmetic operand: xsd:T(?v) or an integer literal.
        -> (spec, cast type or None)."""
        k, v, _ = self.peek()
        if k == "NUM":
            self.next()
            if not re.fullmatch(r"[+-]?\d+", v):
                raise self.error(
                    "BIND arithmetic constants must be integers"
                )
            return (("num", int(v)), None)
        if k == "WORD" and v.upper() not in _KEYWORDS \
                and self.peek(1)[1] == "(":
            var, typ = self._parse_cast_var()
            return (("cast", "?" + var), typ)
        raise self.error(
            "expected xsd:T(?v) or an integer in BIND arithmetic"
        )

    _FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "!=": "!="}

    def _parse_comparator(self) -> str:
        k, v, _ = self.next()
        if k == "OP" and v in ("<", "<=", ">", ">=", "=", "!="):
            return v
        raise self.error("expected a comparison operator")

    def _parse_comparison(self) -> tuple:
        left = self._parse_filter_operand()
        op = self._parse_comparator()
        right = self._parse_filter_operand()
        if left[0] == "var" and right[0] == "var":
            # var-vs-var: '='/'!=' without casts is sameTerm over the
            # node keys; ordered comparison needs a cast naming the
            # shared type (a cast on one side is enough — the engine
            # decodes both through it)
            _, lv, lt = left
            _, rv, rt = right
            if lt and rt and lt != rt:
                raise self.error(
                    "FILTER casts the two variables to different "
                    f"types ({lt} vs {rt})"
                )
            typ = lt or rt
            if typ is None and op not in ("=", "!="):
                raise self.error(
                    "ordered FILTER between two variables needs a "
                    "cast (e.g. xsd:integer(?a) < xsd:integer(?b))"
                )
            if typ is not None:
                return ("?" + lv, op, "?" + rv, typ)
            return ("?" + lv, op, "?" + rv)
        if right[0] == "var":  # const OP var -> flip
            left, right, op = right, left, self._FLIP[op]
        if left[0] != "var":
            raise self.error("FILTER needs a variable on one side")
        _, var, cast_typ = left
        _, value, lit_typ = right
        typ = cast_typ or lit_typ
        if typ is not None:
            return ("?" + var, op, value, typ)
        return ("?" + var, op, value)

    def _parse_filter_operand(self) -> tuple:
        """-> ('var', name, cast_type|None) for a variable side, or
        ('const', python value, xsd type|None) for a constant side."""
        k, v, _ = self.peek()
        if k == "VAR":
            self.next()
            return ("var", v[1:], None)
        if k == "WORD" and v.upper() not in _KEYWORDS \
                and self.peek(1)[0] == "OP" and self.peek(1)[1] == "(":
            var, typ = self._parse_cast_var()
            return ("var", var, typ)
        value, typ = self._parse_filter_constant()
        return ("const", value, typ)

    def _parse_filter_constant(self) -> tuple:
        k, v, _ = self.next()
        if k == "NUM":
            if re.fullmatch(r"[+-]?\d+", v):
                return (int(v), S.XSD_INTEGER)
            return (float(v), S.XSD_DOUBLE)
        if k == "WORD" and v.upper() in ("TRUE", "FALSE"):
            return (v.upper() == "TRUE", S.XSD_BOOLEAN)
        if k == "STRING":
            value, lang, typ = _unquote(v)
            if lang:
                raise self.error(
                    "lang-tagged literals can't be FILTER comparands "
                    "(compare the variable with = against the full "
                    "key via VALUES instead)"
                )
            if typ is None:
                return (value, None)
            typ = self._expand(typ)
            caster = _PY_CASTS.get(typ)
            if caster is None:
                return (value, typ)
            return (caster(value), typ)
        raise self.error(
            "expected a literal FILTER comparand — for IRI equality "
            "use ?v IN (<iri>) (sameTerm membership) or VALUES"
        )

    # -- VALUES ------------------------------------------------------

    def _parse_values(self):
        k, v, _ = self.peek()
        if k == "VAR":
            self.next()
            var = "?" + v[1:]
            self.expect_op("{")
            vals = []
            while not self.at_op("}"):
                vals.append(self._parse_values_term())
            self.expect_op("}")
            if not vals:
                raise self.error("empty VALUES block")
            return {var: vals}
        self.expect_op("(")
        names = []
        while self.peek()[0] == "VAR":
            names.append("?" + self.next()[1][1:])
        self.expect_op(")")
        if not names:
            raise self.error("empty VALUES variable list")
        self.expect_op("{")
        rows = []
        while self.take_op("("):
            row = []
            while not self.at_op(")"):
                row.append(self._parse_values_term())
            self.expect_op(")")
            rows.append(tuple(row))
        self.expect_op("}")
        if not rows:
            raise self.error("empty VALUES block")
        return (names, rows)

    def _parse_values_term(self):
        if self.take_word("UNDEF"):
            return None
        t = self._parse_term("object")
        if isinstance(t, str):
            if t.startswith("?"):
                raise self.error("VALUES terms must be constants")
            return f"<{t}>"
        return t.okey()

    # -- triples -----------------------------------------------------

    def _parse_triples_same_subject(self, paths: bool = True) -> list:
        subj = self._parse_term("subject")
        out = []
        while True:
            pred = self._parse_predicate() if paths \
                else self._parse_term("predicate")
            while True:
                obj = self._parse_term("object")
                out.append((subj, pred, obj))
                if not self.take_op(","):
                    break
            if not self.take_op(";"):
                break
            if self.at_op(".") or self.at_op("}"):
                break  # tolerate a trailing ';'
        return out

    def _parse_term(self, position: str):
        k, v, _ = self.next()
        if k == "VAR":
            return "?" + v[1:]
        if k == "IRI":
            return self._expand(v[1:-1])
        if k == "WORD":
            if v == "a":
                return self._expand(_RDF_TYPE)
            if v.upper() in _KEYWORDS:
                raise self.error(f"unexpected keyword {v} in {position}")
            return self._expand(v)
        if position != "object":
            raise self.error(
                f"{position} must be an IRI or variable, got {v!r}"
            )
        if k == "BNODE":
            return Obj(S.KIND_BNODE, v[2:])
        if k == "STRING":
            value, lang, typ = _unquote(v)
            if lang:
                return Obj(S.KIND_LITERAL, value, "", lang)
            if typ is None:
                return Obj(S.KIND_LITERAL, value, S.XSD_STRING)
            return Obj(S.KIND_LITERAL, value, self._expand(typ))
        if k == "NUM":
            if re.fullmatch(r"[+-]?\d+", v):
                return Obj(S.KIND_LITERAL, v, S.XSD_INTEGER)
            return Obj(S.KIND_LITERAL, v, S.XSD_DOUBLE)
        raise self.error(f"bad object term {v!r}")

    def _expand(self, token: str) -> str:
        """Prefix expansion: 'pfx:local' with a DECLARED pfx expands;
        anything else passes through verbatim (compact-IRI graphs).
        Expanded XMLSchema datatype IRIs normalize back to the repo's
        canonical short form ('xsd:integer') so a query that declares
        the xsd prefix still hits the typed-decode machinery."""
        if ":" in token:
            pfx, local = token.split(":", 1)
            base = self.prefixes.get(pfx)
            if base is not None:
                token = base + local
        ns = S.XML_SCHEMA_NAMESPACE + "#"
        if token.startswith(ns):
            return "xsd:" + token[len(ns):]
        return token

    # -- property paths ----------------------------------------------

    def _parse_predicate(self):
        k, v, _ = self.peek()
        if k == "VAR":
            self.next()
            return "?" + v[1:]
        steps = _compile_path(self._parse_path_alt(), self.error)
        alts, lo, hi = steps[0]
        if len(steps) == 1 and len(alts) == 1 and (lo, hi) == (1, 1):
            p = alts[0]
            if isinstance(p, str) and not _is_path_pred(p):
                return p  # plain predicate: best-layout routing
        return PathExpr(steps)

    def _parse_path_alt(self):
        branches = [self._parse_path_seq()]
        while self.take_op("|"):
            branches.append(self._parse_path_seq())
        return branches[0] if len(branches) == 1 else ("alt", branches)

    def _parse_path_seq(self):
        elts = [self._parse_path_elt()]
        while self.take_op("/"):
            elts.append(self._parse_path_elt())
        return elts[0] if len(elts) == 1 else ("seq", elts)

    def _parse_path_elt(self):
        inv = self.take_op("^")
        node = self._parse_path_primary()
        quant = self._parse_path_quant()
        if quant is not None:
            node = ("quant", node, *quant)
        return ("inv", node) if inv else node

    def _parse_path_primary(self):
        k, v, _ = self.peek()
        if self.take_op("!"):
            if self.take_op("("):
                preds = []
                while True:
                    preds.append(self._parse_neg_pred())
                    if not self.take_op("|"):
                        break
                self.expect_op(")")
            else:
                preds = [self._parse_neg_pred()]
            return ("neg", preds)
        if self.take_op("("):
            inner = self._parse_path_alt()
            self.expect_op(")")
            return inner
        if k == "IRI":
            self.next()
            return ("iri", self._expand(v[1:-1]))
        if k == "WORD":
            if v == "a":
                self.next()
                return ("iri", self._expand(_RDF_TYPE))
            if v.upper() in _KEYWORDS:
                raise self.error(f"unexpected keyword {v} in path")
            self.next()
            return ("iri", self._expand(v))
        raise self.error("expected a predicate IRI or path")

    def _parse_neg_pred(self) -> str:
        if self.at_op("^"):
            raise self.error(
                "inverse members inside a negated property set are "
                "not supported (a complement scan can't be walked "
                "backward — pin the start of the chain instead)"
            )
        k, v, _ = self.next()
        if k == "IRI":
            return self._expand(v[1:-1])
        if k == "WORD" and v.upper() not in _KEYWORDS:
            return self._expand(_RDF_TYPE if v == "a" else v)
        raise self.error("negated property sets take constant IRIs")

    def _parse_path_quant(self):
        k, v, _ = self.peek()
        if k == "OP" and v in ("*", "+", "?"):
            self.next()
            return {"*": (0, None), "+": (1, None), "?": (0, 1)}[v]
        if k == "OP" and v == "{" and self.peek(1)[0] == "NUM":
            self.next()
            lo = int(self.next()[1])
            hi: int | None = lo
            if self.take_op(","):
                if self.peek()[0] == "NUM":
                    hi = int(self.next()[1])
                else:
                    hi = None
            self.expect_op("}")
            return (lo, hi)
        return None


def _compile_path(node, err) -> list[_Step]:
    """Path AST -> the engine's parsed steps (bgp._Step): each step is
    an alternation of (possibly inverse / negated) predicates or
    sequence groups with one shared quantifier. Shapes that don't
    factor this way — nested quantifiers, alternation branches with
    their own quantifier, mixed negated/plain alternation — raise
    with the construct named rather than approximating."""
    kind = node[0]
    if kind == "iri":
        return [_Step((node[1],))]
    if kind == "neg":
        return [_Step(tuple("!" + p for p in node[1]))]
    if kind == "seq":
        return [s for elt in node[1] for s in _compile_path(elt, err)]
    if kind == "alt":
        parts: list = []
        for b in node[1]:
            ss = _compile_path(b, err)
            if len(ss) != 1:
                # a multi-step branch becomes a sequence-group
                # alternative '(a/b)' — valid under a quantifier,
                # where the closure's edge set unions the composed
                # relation with the plain hops; the engine refuses
                # the unquantified form by name
                if any(s[1:] != (1, 1) for s in ss):
                    raise err(
                        "nested quantifiers/groups inside an "
                        "alternation branch are not supported"
                    )
                parts.append(_SeqGroup(tuple(ss)))
                continue
            if ss[0][1:] != (1, 1):
                raise err(
                    "alternation branches with their own quantifiers "
                    "(p*|q) are not supported — quantify the whole "
                    "group: (p|q)*"
                )
            parts.extend(ss[0].alts)
        if any(isinstance(p, str) and p.startswith("!") for p in parts):
            raise err(
                "alternation mixing negated property sets with plain "
                "predicates is not supported"
            )
        return [_Step(tuple(parts))]
    if kind == "inv":
        ss = _compile_path(node[1], err)
        try:
            return [_invert_parsed_step(s) for s in reversed(ss)]
        except ValueError:
            raise err(
                "inverse of a negated property set is not supported"
            ) from None
    if kind == "quant":
        _, child, lo, hi = node
        ss = _compile_path(child, err)
        if len(ss) != 1:
            # closure over a SEQUENCE: the engine composes the inner
            # hops into one edge relation and walks that
            if any(s[1:] != (1, 1) for s in ss):
                raise err(
                    "nested path quantifiers inside a quantified "
                    "group are not supported (the group closes "
                    "over a fixed-length sequence)"
                )
            return [_Step((_SeqGroup(tuple(ss)),), lo, hi)]
        if ss[0][1:] != (1, 1):
            raise err("nested path quantifiers are not supported")
        return [_Step(ss[0].alts, lo, hi)]
    raise err(f"internal: unknown path node {kind!r}")


# ------------------------------------------------------- literal utils

_PY_CASTS = {
    S.XSD_INTEGER: int,
    S.XSD_BYTE: int,
    S.XSD_SHORT: int,
    S.XSD_UINTEGER: int,
    S.XSD_UNSIGNED_BYTE: int,
    S.XSD_UNSIGNED_SHORT: int,
    S.XSD_DOUBLE: float,
    S.XSD_FLOAT: float,
    S.XSD_BOOLEAN: lambda s: s.strip().lower() in ("true", "1"),
}


def _unquote(tok: str) -> tuple[str, str | None, str | None]:
    """STRING token -> (value, lang|None, type-token|None)."""
    m = re.fullmatch(
        r'"((?:[^"\\]|\\.)*)"(?:@([A-Za-z0-9-]+)|\^\^(<[^<>]*>|\S+))?',
        tok,
        re.DOTALL,
    )
    if not m:
        raise SparqlParseError(f"sparql: bad string literal {tok!r}")
    value = (
        m.group(1)
        .replace('\\"', '"')
        .replace("\\n", "\n")
        .replace("\\t", "\t")
        .replace("\\\\", "\\")
    )
    typ = m.group(3)
    if typ is not None and typ.startswith("<"):
        typ = typ[1:-1]
    return value, m.group(2), typ


# ------------------------------------------------------------ execute


def parse_sparql(text: str) -> dict:
    """Parse SPARQL text to the execution spec `sparql_query` runs.
    Exposed for inspection/tests; the spec's fields mirror bgp_match /
    bgp_select arguments directly."""
    return _Parser(text).parse()


def parse_sparql_update(text: str) -> list[dict]:
    """Parse a SPARQL Update request to its statement list."""
    return _Parser(text).parse_update()


def sparql_update(source, text: str):
    """Execute SPARQL Update text against a TripleSource op log:
    INSERT DATA / DELETE DATA append constant add/remove ops;
    DELETE/INSERT ... WHERE instantiates the templates over the
    CURRENT snapshot's bindings (both templates against the same
    pre-state, per the SPARQL Update spec) and appends the remove
    then the add. Returns the source for chaining; time travel over
    the resulting ops comes free (TripleSource.snapshot_at)."""
    from triplestore_spark.dsl import triples_to_df
    from triplestore_spark.operators.bgp import bgp_construct

    for stmt in parse_sparql_update(text):
        if stmt["op"] == "insert_data":
            source.add_df(
                triples_to_df(source._spark, stmt["triples"])
            )
        elif stmt["op"] == "delete_data":
            source.remove_df(
                triples_to_df(source._spark, stmt["triples"])
            )
        else:
            g = stmt["where"]
            if "union" in g:
                raise SparqlParseError(
                    "sparql update: UNION in WHERE is not supported"
                )
            pre = source.snapshot()
            kw = _match_kwargs(g, pre)
            if stmt["delete"]:
                source.remove_df(
                    bgp_construct(pre, g["patterns"], stmt["delete"], **kw)
                )
            if stmt["insert"]:
                source.add_df(
                    bgp_construct(pre, g["patterns"], stmt["insert"], **kw)
                )
    return source


def _match_kwargs(g: dict, graph=None) -> dict:
    kw: dict = {}
    if g["optional"]:
        kw["optional"] = g["optional"]
    if g["anti"]:
        kw["anti"] = g["anti"]
    if g.get("exists"):
        kw["exists"] = g["exists"]
    if g.get("bind"):
        kw["bind"] = g["bind"]
    if g["filters"]:
        kw["filters"] = g["filters"]
    if g.get("bound"):
        kw["bound_filters"] = g["bound"]
    if g["values"] is not None:
        kw["values"] = g["values"]
    if g.get("subqueries"):
        if graph is None:
            raise SparqlParseError(
                "sparql: subqueries are not supported inside UNION "
                "arms — lift the subquery out of the UNION"
            )
        # bottom-up evaluation: each inner SELECT compiles to its own
        # DataFrame and joins the group's solutions on shared variables
        kw["joins"] = [_subquery_df(graph, sq) for sq in g["subqueries"]]
    return kw


# aggregate output types whose lexical form re-encodes EXACTLY as a
# node key via a plain string cast (integer family + boolean/string);
# doubles, floats, and timestamps are refused at the subquery boundary
# because Catalyst's number/timestamp formatting diverges from the
# Go-parity literal constructors that produced the stored keys
_EXACT_REENCODE = {
    S.XSD_INTEGER, S.XSD_BYTE, S.XSD_SHORT, S.XSD_UINTEGER,
    S.XSD_UNSIGNED_BYTE, S.XSD_UNSIGNED_SHORT, S.XSD_BOOLEAN,
    S.XSD_STRING,
}


def _subquery_df(graph, sq: dict):
    """Compile a subquery and re-encode its aggregate columns as
    canonical NODE KEYS, so outer FILTER/BIND/joins treat subquery
    variables exactly like matched ones. Group keys and SAMPLE are
    already keys; COUNT family re-encodes as xsd:integer; typed
    aggregates re-encode through their declared tag (exact types
    only); GROUP_CONCAT becomes a simple literal. NULL aggregates
    (a group whose values all failed the typed decode) stay NULL."""
    from pyspark.sql import functions as F

    df = _select_df(graph, sq)
    encode: dict[str, object] = {}
    for alias, spec in (sq.get("aggregates") or {}).items():
        if alias not in df.columns:
            continue
        fn = spec[0]
        if fn in ("count", "count_distinct"):
            typ = S.XSD_INTEGER
        elif fn == "sample":
            continue  # a node key already
        elif fn == "group_concat":
            encode[alias] = F.when(
                F.col(alias).isNotNull(),
                F.concat(F.lit('"'), F.col(alias), F.lit('"^^<>')),
            )
            continue
        elif fn == "avg":
            raise SparqlParseError(
                "sparql subquery: AVG projects a double, whose "
                "re-encoding as a literal is engine-specific — "
                "compare it inside the subquery (HAVING) instead"
            )
        else:
            typ = spec[2]
        if typ not in _EXACT_REENCODE:
            raise SparqlParseError(
                f"sparql subquery: aggregate {alias!r} over {typ} "
                "cannot be re-encoded exactly as a node key — use an "
                "integer/boolean/string-typed aggregate, or compare "
                "it inside the subquery (HAVING)"
            )
        encode[alias] = F.when(
            F.col(alias).isNotNull(),
            F.concat(
                F.lit('"'),
                F.col(alias).cast("string"),
                F.lit(f'"^^<{typ}>'),
            ),
        )
    if encode:
        df = df.select(
            *[
                encode[c].alias(c) if c in encode else F.col(c)
                for c in df.columns
            ]
        )
    return df


def _ask_group(graph, g: dict) -> bool:
    """One ASK arm. A group whose patterns are ALL constant is the
    reference's Contains check (source.go's point lookup) — bgp_match
    deliberately refuses it (nothing to join), so each pattern runs as
    a limit-1 lookup on its routed layout instead (a path between two
    constants is a limit-1 property_path); any variable makes it a
    normal limit-1 BGP."""
    from triplestore_spark.operators.bgp import (
        _as_obj,
        _is_var,
        bgp_match,
        property_path,
    )

    kw = _match_kwargs(g, graph)
    has_var = any(
        any(_is_var(t) for t in pat) for pat in g["patterns"]
    )
    if has_var or kw:
        m = bgp_match(graph, g["patterns"], distinct=False, **kw)
        return bool(m.limit(1).take(1))
    for s, p, o in g["patterns"]:
        if isinstance(p, PathExpr):
            m = property_path(graph, p.steps, start=s, end=o, distinct=False)
        else:
            m = graph._match(s, p, _as_obj(o))
        if not m.limit(1).take(1):
            return False
    return True


def sparql_query(graph, text: str):
    """Execute SPARQL text on an RDFGraph / triple DataFrame. SELECT,
    CONSTRUCT, and DESCRIBE return a DataFrame; ASK returns a bool.
    See the module docstring for the supported subset."""
    from pyspark.sql import functions as F

    from triplestore_spark.operators.bgp import bgp_construct, bgp_match
    from triplestore_spark.operators.graph import as_graph

    graph = as_graph(graph)
    q = parse_sparql(text)
    form = q["form"]
    if form == "describe":
        return graph.describe(q["node"])
    if form == "describe_var":
        kw = _match_kwargs(q["where"], graph)
        m = bgp_match(graph, q["where"]["patterns"], distinct=False, **kw)
        var = q["var"][1:]
        if var not in m.columns:
            raise SparqlParseError(
                f"sparql: DESCRIBE variable ?{var} is not bound by "
                "the WHERE group"
            )
        # distinct node keys (IRIs/bnodes only — literals are not
        # describable) as (name, is_bnode): the kind travels WITH the
        # name, so an IRI <x> and a bnode _:x stay apart
        k = F.col(var)
        nodes = (
            m.where(~k.startswith('"'))
            .select(
                strip_node_key(k).alias("name"),
                k.startswith("_:").alias("is_bnode"),
            )
            .distinct()
        )
        return graph.describe(nodes)

    where = q["where"]
    arms = where.get("union")
    if form == "ask":
        groups = arms if arms else [where]
        for g in groups:
            if _ask_group(graph, g):
                return True
        return False

    if form == "construct":
        if arms:
            raise SparqlParseError(
                "sparql: CONSTRUCT over UNION is not supported — run "
                "one CONSTRUCT per arm and add() the results"
            )
        return bgp_construct(
            graph, where["patterns"], q["template"],
            **_match_kwargs(where, graph)
        )

    # SELECT
    return _select_df(graph, q)


def _select_df(graph, q: dict):
    """Compile one parsed SELECT (top-level or subquery) to a
    DataFrame. Subqueries recurse through here via _match_kwargs, so
    nesting depth is bounded only by the parser's input."""
    from triplestore_spark.operators.bgp import bgp_match
    from triplestore_spark.operators.bgp_agg import (
        _modify_df,
        bgp_select,
        bgp_union,
    )

    where = q["where"]
    arms = where.get("union")
    aggregates = q["aggregates"]
    group_by = q["group_by"]
    sel_binds = q.get("select_binds") or {}
    if sel_binds:
        # (expr AS ?x) evaluates over each solution — exactly a
        # trailing BIND; the engine enforces name freshness and
        # sequential scope (SELECT expressions may read group binds)
        if arms:
            raise SparqlParseError(
                "sparql: SELECT expressions over UNION are not "
                "supported — BIND inside each arm instead"
            )
        if aggregates or group_by:
            raise SparqlParseError(
                "sparql: SELECT expressions do not compose with "
                "aggregation (aggregate outputs are typed values, "
                "not node keys) — BIND before the aggregation or "
                "compute over the result"
            )
        merged = dict(where.get("bind") or {})
        for a, s in sel_binds.items():
            merged["?" + a] = s
        where = dict(where, bind=merged)
    if arms:
        union_arms = [
            {"patterns": g["patterns"], **_match_kwargs(g)} for g in arms
        ]
    else:
        kw = _match_kwargs(where, graph)
    if aggregates or group_by:
        # aggregation over one group, or over the unioned solution
        # MULTISET (bag union per SPARQL)
        plain = [
            v for v in (q["projection"] or []) if v not in aggregates
        ]
        stray = [v for v in plain if v not in group_by]
        if stray:
            raise SparqlParseError(
                f"sparql: projected variables {stray} must appear in "
                "GROUP BY (or inside an aggregate)"
            )
        # DISTINCT over aggregates dedupes the PROJECTED rows, so the
        # modifiers must run after the projection+distinct, not inside
        # the aggregation (ordering before a .distinct() is undone)
        late_mods = (
            bool(q["distinct"] and (q["order_by"] or q["limit"]))
            or q["offset"] is not None
        )
        agg = dict(
            group_by=["?" + v for v in group_by],
            aggregates=aggregates,
            having=q["having"] or None,
            order_by=None if late_mods else (q["order_by"] or None),
            limit=None if late_mods else q["limit"],
        )
        if arms:
            df = bgp_union(graph, union_arms, **agg)
        else:
            df = bgp_select(graph, where["patterns"], **agg, **kw)
        proj = q["projection"]
        if proj:
            missing = [v for v in proj if v not in df.columns]
            if missing:
                raise SparqlParseError(
                    f"sparql: projected names {missing} are not "
                    "produced by GROUP BY / aggregates"
                )
            df = df.select(*proj)
        if q["distinct"]:
            df = df.distinct()
        if late_mods:
            df = _modify_df(df, q["order_by"], q["limit"], q["offset"])
        return df

    if arms:
        df = bgp_union(graph, union_arms, distinct=q["distinct"])
        proj = q["projection"]
        if proj:
            missing = [v for v in proj if v not in df.columns]
            if missing:
                raise SparqlParseError(
                    f"sparql: projected variables {missing} are not "
                    "bound by any UNION arm"
                )
            df = df.select(*proj)
            if q["distinct"]:
                df = df.distinct()
        return _modify_df(df, q["order_by"], q["limit"], q["offset"])

    if q["having"]:
        raise SparqlParseError("sparql: HAVING requires aggregates")
    df = bgp_match(graph, where["patterns"], distinct=False, **kw)
    proj = q["projection"]
    if proj:
        missing = [v for v in proj if v not in df.columns]
        if missing:
            raise SparqlParseError(
                f"sparql: projected variables {missing} are not bound "
                "by the WHERE patterns"
            )
    if q["distinct"]:
        if proj:
            df = df.select(*proj)
        df = df.distinct()
        return _modify_df(df, q["order_by"], q["limit"], q["offset"])
    df = _modify_df(df, q["order_by"], None, q["offset"])
    if proj:
        df = df.select(*proj)
    if q["limit"] is not None:
        df = df.limit(q["limit"])
    return df
