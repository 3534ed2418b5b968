"""SPARQL SELECT-level operators over BGP bindings: aggregation
(GROUP BY + COUNT/SUM/AVG/MIN/MAX/GROUP_CONCAT/SAMPLE + HAVING),
solution modifiers (ORDER BY / LIMIT), and UNION of groups.

The reference exposes point lookups and full scans (source.go); the
analytics layer a KG user expects on top of them — "how many mentions
per document", "sum of a typed property per entity", "this pattern OR
that pattern" — is SPARQL 1.1 aggregation/UNION, built here as a thin
declarative layer over `bgp_match`:

- `bgp_select` runs the BGP with bag semantics (SPARQL aggregates
  operate on the solution MULTISET, so the underlying match is
  distinct=False), then a single hash aggregation on the grouping
  keys. Typed aggregates (sum/avg/min/max) decode node-key bindings
  through `parse_node_key` + `parse_typed_col` — same NULL-on-tag-
  mismatch semantics as FILTER. Catalyst plans this as partial
  (map-side) + final aggregation: at 100 TB the shuffle carries the
  grouping keys and partial states only, never the binding rows.
- `bgp_union` is SPARQL UNION: each arm is its own BGP (with its own
  optional/anti/filters), arms are aligned on the union of their
  variables (missing vars NULL, per spec) and unioned without a
  shuffle; `distinct=True` adds the one set-semantics aggregation.

Each operator has a DuckDB twin (`bgp_select_sql`, `bgp_union_sql`)
generated from the SAME declarative spec, so differential tests and
the driver's correctness gate derive the join graph + aggregation
twice from one input.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.operators.bgp import (
    _FILTER_OPS,
    _is_var,
    _pattern_vars,
    _sql_str,
    _var,
    bgp_match,
    bgp_match_sql,
    parse_bgp,
    parse_node_key,
)

__all__ = ["bgp_select", "bgp_select_sql", "bgp_union", "bgp_union_sql"]

# xsd type -> (spark handled by parse_typed_col, duckdb cast target)
_DUCK_TYPES = {
    S.XSD_BOOLEAN: "BOOLEAN",
    S.XSD_INTEGER: "BIGINT",
    S.XSD_BYTE: "TINYINT",
    S.XSD_SHORT: "SMALLINT",
    S.XSD_UINTEGER: "BIGINT",
    S.XSD_UNSIGNED_BYTE: "SMALLINT",
    S.XSD_UNSIGNED_SHORT: "INTEGER",
    S.XSD_DOUBLE: "DOUBLE",
    S.XSD_FLOAT: "REAL",
    S.XSD_STRING: "VARCHAR",
    S.XSD_DATETIME: "TIMESTAMP",
}

_TYPED_AGGS = ("sum", "avg", "min", "max")
_KEY_AGGS = ("count", "count_distinct", "sample", "group_concat")


def _typed_binding(var: str, typ: str) -> Column:
    """Decode one bound node-key column to its typed value (NULL for
    non-literals and tag mismatches — SPARQL error-as-unbound)."""
    from triplestore_spark.functions.typed import parse_typed_col

    _, _, val, vtyp, _ = parse_node_key(F.col(var))
    return parse_typed_col(val, vtyp, typ)


def _agg_column(alias: str, spec: tuple) -> Column:
    fn = spec[0]
    if fn == "count" and spec[1] == "*":
        return F.count(F.lit(1)).alias(alias)
    term = spec[1]
    if not _is_var(term):
        raise ValueError(f"aggregate {alias}: term must be '?var' or '*'")
    v = _var(term)
    if fn == "count":
        return F.count(F.col(v)).alias(alias)
    if fn == "count_distinct":
        return F.count_distinct(F.col(v)).alias(alias)
    if fn == "sample":
        # SPARQL SAMPLE is impl-defined; we pin the deterministic
        # choice (min key) so reruns and the SQL twin agree
        return F.min(F.col(v)).alias(alias)
    if fn == "group_concat":
        sep = spec[2] if len(spec) > 2 else " "
        return F.array_join(
            F.array_sort(F.collect_list(F.col(v))), sep
        ).alias(alias)
    if fn in _TYPED_AGGS:
        if len(spec) < 3:
            raise ValueError(
                f"aggregate {alias}: {fn} needs an xsd type, e.g. "
                f"('{fn}', '{term}', 'xsd:integer') — ordering/adding "
                "lexical forms of unknown datatypes is a silent wrong "
                "answer"
            )
        typed = _typed_binding(v, spec[2])
        return getattr(F, fn)(typed).alias(alias)
    raise ValueError(f"aggregate {alias}: unknown function {fn!r}")


def _norm_order(o) -> tuple[str, str, str | None]:
    """One order_by entry -> (name, direction, xsd_type|None)."""
    if isinstance(o, tuple):
        if len(o) == 2:
            name, direction, typ = *o, None
        elif len(o) == 3:
            name, direction, typ = o
        else:
            raise ValueError(f"order_by: bad entry {o!r}")
    else:
        name, direction, typ = o, "asc", None
    if direction not in ("asc", "desc"):
        raise ValueError(f"order_by: bad direction {direction!r}")
    return name, direction, typ


def bgp_select(
    graph,
    patterns,
    *,
    group_by: Sequence[str] | None = None,
    aggregates: Mapping[str, tuple] | None = None,
    having: Sequence[tuple] | None = None,
    order_by: Sequence[tuple | str] | None = None,
    limit: int | None = None,
    **match_kwargs,
) -> DataFrame:
    """SPARQL SELECT with aggregation and solution modifiers.

    `group_by`: '?var' names whose node keys become grouping keys
    (output columns keep the bare variable name). `aggregates` maps
    output column -> spec:

      ('count', '*')                      COUNT(*)
      ('count', '?v')                     COUNT(bound ?v)
      ('count_distinct', '?v')            COUNT(DISTINCT ?v)
      ('sum'|'avg'|'min'|'max', '?v', 'xsd:integer')
                                          typed aggregate over decoded
                                          literal values (tag-mismatch
                                          rows decode to NULL and drop)
      ('sample', '?v')                    deterministic pick (min key)
      ('group_concat', '?v'[, sep])       sorted, separator-joined keys

    `having`: (alias, op, value) comparisons over aggregate outputs.
    `order_by`: (column, 'asc'|'desc') over group vars or aliases
    (bare names mean 'asc'). A third element names an xsd type —
    ('?n', 'desc', 'xsd:integer') — and orders by the DECODED typed
    value instead of the node-key string (lexicographic order on
    numeric keys puts "10" before "9"; typed order is what a user
    means). `limit` caps rows AFTER ordering — Spark plans sort+limit
    as a TakeOrdered top-k, no global sort at scale.
    Remaining kwargs (optional/anti/filters/...) go to bgp_match.
    The match runs with bag semantics (distinct=False) because SPARQL
    aggregates consume the solution multiset; without group_by or
    aggregates this is bgp_match + modifiers.
    """
    distinct = match_kwargs.pop(
        "distinct", not (group_by or aggregates)
    )
    df = bgp_match(graph, patterns, distinct=distinct, **match_kwargs)
    df = _aggregate_df(df, group_by, aggregates, having)
    return _modify_df(df, order_by, limit)


def _aggregate_df(df, group_by, aggregates, having) -> DataFrame:
    """The post-match aggregation stage, shared by bgp_select and
    bgp_union: one hash aggregation (Catalyst plans partial+final, so
    the shuffle carries keys and partial states only) plus HAVING."""
    group_vars = [_var(g) if _is_var(g) else g for g in (group_by or [])]
    if aggregates:
        aggs = [_agg_column(a, spec) for a, spec in aggregates.items()]
        df = (
            df.groupBy(*[F.col(v) for v in group_vars]).agg(*aggs)
            if group_vars
            else df.agg(*aggs)
        )
    elif group_vars:
        df = df.select(*group_vars).distinct()
    for h in having or []:
        alias, op, value = h
        if aggregates is None or alias not in aggregates:
            raise ValueError(f"having: {alias!r} is not an aggregate")
        if op not in _FILTER_OPS:
            raise ValueError(f"having: unknown op {op!r}")
        df = df.where(_FILTER_OPS[op](F.col(alias), F.lit(value)))
    return df


def _modify_df(df, order_by, limit, offset=None) -> DataFrame:
    """Solution modifiers (ORDER BY / OFFSET / LIMIT), shared by
    bgp_select, bgp_union and every SPARQL SELECT tail."""
    if order_by:
        cols = []
        for o in order_by:
            name, direction, typ = _norm_order(o)
            name = _var(name) if _is_var(name) else name
            if name not in df.columns:
                raise ValueError(
                    f"ORDER BY variable ?{name} is not bound by the query"
                )
            c = (
                _typed_binding(name, typ)
                if typ is not None
                else F.col(name)
            )
            cols.append(c.asc() if direction == "asc" else c.desc())
        df = df.orderBy(*cols)
    if offset is not None:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(int(limit))
    return df


def _duck_decoded(col: str, typ: str) -> str:
    """DuckDB twin of parse_node_key + parse_typed_col over a node-key
    column: typed-literal regex, tag check (short or long XMLSchema
    form), TRY_CAST (NULL on bad lexical form, like Spark's cast)."""
    duck = _DUCK_TYPES.get(typ)
    if duck is None:
        raise ValueError(f"unknown literal type: {typ}")
    long_form = typ
    if typ.startswith("xsd:"):
        long_form = f"{S.XML_SCHEMA_NAMESPACE}#{typ[4:]}"
    pat = _sql_str(r'(?s)^"(.*)"\^\^<([^>]*)>$')
    return (
        f"CASE WHEN regexp_matches({col}, {pat}) AND "
        f"regexp_extract({col}, {pat}, 2) IN "
        f"({_sql_str(typ)}, {_sql_str(long_form)}) "
        f"THEN TRY_CAST(regexp_extract({col}, {pat}, 1) AS {duck}) END"
    )


def _duck_agg(alias: str, spec: tuple) -> str:
    fn = spec[0]
    if fn == "count" and spec[1] == "*":
        return f"COUNT(*) AS {alias}"
    v = _var(spec[1])
    if fn == "count":
        return f"COUNT({v}) AS {alias}"
    if fn == "count_distinct":
        return f"COUNT(DISTINCT {v}) AS {alias}"
    if fn == "sample":
        return f"MIN({v}) AS {alias}"
    if fn == "group_concat":
        sep = spec[2] if len(spec) > 2 else " "
        return (
            f"COALESCE(STRING_AGG({v}, {_sql_str(sep)} ORDER BY {v}),"
            f" CASE WHEN COUNT(*) > 0 THEN '' END) AS {alias}"
        )
    if fn in _TYPED_AGGS:
        expr = f"{fn.upper()}({_duck_decoded(v, spec[2])})"
        # DuckDB widens SUM(BIGINT-family) to HUGEINT; Spark keeps
        # LONG — align the twin (the driver's value hash is typed)
        if fn == "sum" and _DUCK_TYPES[spec[2]] in (
            "BIGINT", "TINYINT", "SMALLINT", "INTEGER",
        ):
            expr = f"CAST({expr} AS BIGINT)"
        return f"{expr} AS {alias}"
    raise ValueError(f"aggregate {alias}: unknown function {fn!r}")


def bgp_select_sql(
    patterns,
    table: str = "triples",
    *,
    group_by: Sequence[str] | None = None,
    aggregates: Mapping[str, tuple] | None = None,
    having: Sequence[tuple] | None = None,
    order_by: Sequence[tuple | str] | None = None,
    limit: int | None = None,
    optional=None,
    anti=None,
    values=None,
    distinct: bool | None = None,
) -> str:
    """ANSI-SQL twin of bgp_select for DuckDB — same spec, same
    semantics (bag-mode inner BGP, typed decode, NULLS placement
    matching Spark's asc=NULLS FIRST / desc=NULLS LAST)."""
    if distinct is None:
        distinct = not (group_by or aggregates)
    inner = bgp_match_sql(
        patterns, table, optional=optional, anti=anti, values=values,
        distinct=distinct,
    )
    return _sql_agg_wrap(
        inner, group_by, aggregates, having, order_by, limit
    )


def _sql_agg_wrap(
    inner: str, group_by, aggregates, having, order_by, limit
) -> str:
    """Wrap an inner solution SQL in the aggregation + modifier tail
    (GROUP BY / HAVING / ORDER BY / LIMIT) — shared by bgp_select_sql
    and bgp_union_sql so both twins derive from the same spec code."""
    group_vars = [_var(g) if _is_var(g) else g for g in (group_by or [])]
    selects = list(group_vars)
    if aggregates:
        selects += [_duck_agg(a, spec) for a, spec in aggregates.items()]
        sql = f"SELECT {', '.join(selects)} FROM ({inner}) b"
        if group_vars:
            sql += f" GROUP BY {', '.join(group_vars)}"
    elif group_vars:
        sql = (
            f"SELECT {', '.join(selects)} FROM ({inner}) b "
            f"GROUP BY {', '.join(group_vars)}"
        )
    else:
        sql = f"SELECT * FROM ({inner}) b"
    havings = []
    for alias, op, value in having or []:
        if aggregates is None or alias not in aggregates:
            raise ValueError(f"having: {alias!r} is not an aggregate")
        if op not in _FILTER_OPS:
            raise ValueError(f"having: unknown op {op!r}")
        op = "=" if op == "==" else op
        lit = value if isinstance(value, (int, float)) else _sql_str(value)
        agg_expr = _duck_agg(alias, aggregates[alias]).rsplit(" AS ", 1)[0]
        havings.append(f"{agg_expr} {op} {lit}")
    if havings:
        sql += " HAVING " + " AND ".join(havings)
    if order_by:
        parts = []
        for o in order_by:
            name, direction, typ = _norm_order(o)
            name = _var(name) if _is_var(name) else name
            expr = _duck_decoded(name, typ) if typ is not None else name
            parts.append(
                f"{expr} ASC NULLS FIRST"
                if direction == "asc"
                else f"{expr} DESC NULLS LAST"
            )
        sql += " ORDER BY " + ", ".join(parts)
    if limit is not None:
        sql += f" LIMIT {int(limit)}"
    return sql


def _norm_group(group) -> dict:
    """One UNION arm: a pattern list / parse string, or a dict with
    'patterns' plus per-arm optional/anti/filters."""
    if isinstance(group, dict):
        g = dict(group)
        if "patterns" not in g:
            raise ValueError("union arm dict needs a 'patterns' key")
    else:
        g = {"patterns": group}
    if isinstance(g["patterns"], str):
        g["patterns"] = parse_bgp(g["patterns"])
    return g


def _union_vars(groups: Sequence[dict]) -> list[str]:
    out: list[str] = []
    for g in groups:
        pats = list(g["patterns"])
        for og in g.get("optional") or []:
            if isinstance(og, dict):
                og = og["patterns"]
            pats += parse_bgp(og) if isinstance(og, str) else list(og)
        for v in _pattern_vars(pats):
            if v not in out:
                out.append(v)
        for bv in g.get("bind") or {}:
            bv = bv.lstrip("?")
            if bv not in out:
                out.append(bv)
        for jdf in g.get("joins") or []:
            # a subquery join can bind variables no triple pattern
            # mentions — without this they were silently dropped from
            # the union output (ADVICE r6, low)
            for jc in jdf.columns:
                if jc not in out:
                    out.append(jc)
    if not out:
        raise ValueError("bgp_union: no variables in any arm")
    return out


def bgp_union(
    graph,
    groups: Sequence,
    *,
    distinct: bool = True,
    group_by: Sequence[str] | None = None,
    aggregates: Mapping[str, tuple] | None = None,
    having: Sequence[tuple] | None = None,
    order_by: Sequence[tuple | str] | None = None,
    limit: int | None = None,
) -> DataFrame:
    """SPARQL UNION: match every arm independently and stack the
    solutions. Output columns are the union of all arms' variables in
    first-appearance order; an arm that doesn't bind a variable
    contributes NULL there (per spec). Arms may carry their own
    optional/anti/filters. The union itself is shuffle-free
    (partition concat); `distinct=True` adds SPARQL set semantics
    with one hash aggregation.

    `group_by`/`aggregates`/`having` aggregate OVER the unioned
    solution multiset (bag union, per SPARQL — the arms stack without
    dedup and the aggregation consumes the multiset; `distinct` is
    ignored in that mode since aggregation output is set-like).
    Specs are exactly bgp_select's; the single hash aggregation sits
    on top of the shuffle-free union, so the plan is partial+final
    aggregation over the concatenated arm scans — no extra exchange
    versus aggregating one arm."""
    norm = [_norm_group(g) for g in groups]
    if not norm:
        raise ValueError("bgp_union: no arms")
    var_order = _union_vars(norm)
    frames = []
    for g in norm:
        kwargs = {k: v for k, v in g.items() if k != "patterns"}
        df = bgp_match(graph, g["patterns"], distinct=False, **kwargs)
        cols = [
            F.col(v) if v in df.columns
            else F.lit(None).cast("string").alias(v)
            for v in var_order
        ]
        frames.append(df.select(*cols))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    if aggregates or group_by:
        out = _aggregate_df(out, group_by, aggregates, having)
        return _modify_df(out, order_by, limit)
    if having:
        raise ValueError("bgp_union: having requires aggregates")
    return _modify_df(
        out.distinct() if distinct else out, order_by, limit
    )


def bgp_union_sql(
    groups: Sequence,
    table: str = "triples",
    *,
    distinct: bool = True,
    group_by: Sequence[str] | None = None,
    aggregates: Mapping[str, tuple] | None = None,
    having: Sequence[tuple] | None = None,
    order_by: Sequence[tuple | str] | None = None,
    limit: int | None = None,
) -> str:
    """DuckDB twin of bgp_union — UNION ALL of per-arm BGP SQL with
    NULL-padded missing variables, outer DISTINCT for set mode, and
    the same aggregation tail as bgp_select_sql when group_by/
    aggregates are given (bag union feeding one GROUP BY)."""
    norm = [_norm_group(g) for g in groups]
    if not norm:
        raise ValueError("bgp_union: no arms")
    if any(g.get("filters") for g in norm):
        raise ValueError(
            "bgp_union_sql: arm filters have no SQL twin — apply "
            "compile_binding_filter post-hoc and compare that"
        )
    if any(g.get("bind") for g in norm):
        raise ValueError(
            "bgp_union_sql: arm binds have no SQL twin — compare "
            "compile_bind_expr output on the DataFrame side"
        )
    if any(g.get("bound_filters") for g in norm):
        raise ValueError(
            "bgp_union_sql: arm BOUND filters have no SQL twin — "
            "apply the null test post-hoc and compare that"
        )
    if any(isinstance(og, dict) for g in norm
           for og in g.get("optional") or []):
        raise ValueError(
            "bgp_union_sql: optional groups with filters have no "
            "SQL twin"
        )
    var_order = _union_vars(norm)
    arms = []
    for i, g in enumerate(norm):
        pats = list(g["patterns"])
        opt = g.get("optional")
        arm_pats = list(pats)
        for og in opt or []:
            arm_pats += parse_bgp(og) if isinstance(og, str) else list(og)
        bound = set(_pattern_vars(arm_pats))
        inner = bgp_match_sql(
            pats, table,
            optional=opt, anti=g.get("anti"), exists=g.get("exists"),
            values=g.get("values"),
            distinct=False,
        )
        cols = ", ".join(
            v if v in bound else f"CAST(NULL AS VARCHAR) AS {v}"
            for v in var_order
        )
        arms.append(f"SELECT {cols} FROM ({inner}) u{i}")
    sql = " UNION ALL ".join(arms)
    if aggregates or group_by:
        return _sql_agg_wrap(
            sql, group_by, aggregates, having, order_by, limit
        )
    if having:
        raise ValueError("bgp_union: having requires aggregates")
    if distinct:
        sql = f"SELECT DISTINCT * FROM ({sql}) un"
    if order_by or limit is not None:
        sql = _sql_agg_wrap(sql, None, None, None, order_by, limit)
    return sql
