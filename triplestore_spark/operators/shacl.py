"""SHACL-lite shape validation over the canonical triple table — the
data-quality gate a KG-construction pipeline runs before publishing
(every entity of class X has exactly one source, nchars is a
non-negative xsd:integer, mentions point at typed entities, ...).

Shapes are plain dicts (a pragmatic subset of W3C SHACL core):

    {
      "name": "DocShape",
      "target_class": "kg:Document",        # or target_subjects_of
      "properties": [
        {"path": "kg:source",  "min_count": 1, "max_count": 1},
        {"path": "kg:nchars",  "datatype": "xsd:integer",
         "min_inclusive": 0, "min_count": 1},
        {"path": "kg:mentions", "node_kind": "IRI",
         "class": "kg:Entity"},
        {"path": "kg:title",   "pattern": "^.{1,200}$"},
        {"path": "kg:source",  "in": ["src:web", "src:feed"]},
      ],
    }

`validate(graph, shapes)` returns the violation report as a DataFrame
(shape, focus, path, constraint, value) — empty means conformant,
and the report itself is exact relational data, so it gates under the
driver oracle like any query. `validate_sql(shapes)` compiles the
SAME shape dicts to one DuckDB UNION ALL — the differential twin.

Scale shape: every constraint is either a filtered scan (datatype /
node_kind / pattern / in — predicate constant reaches parquet as a
PushedFilter, violations stream out with no shuffle), one aggregation
on (focus) for the count constraints, or one anti-join against the
type table for `class` — nothing ever joins the full graph to itself,
and the report size is bounded by the violations, not the data.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.operators.bgp import _sql_str
from triplestore_spark.operators.graph import RDFGraph, as_graph

__all__ = ["validate", "validate_sql"]

_NODE_KINDS = {
    "IRI": S.KIND_RESOURCE,
    "Literal": S.KIND_LITERAL,
    "BlankNode": S.KIND_BNODE,
}
_TYPE_PRED = "rdf:type"

_REPORT_COLS = ("shape", "focus", "path", "constraint", "value")


def _long_form(typ: str) -> str:
    if typ.startswith("xsd:"):
        return f"{S.XML_SCHEMA_NAMESPACE}#{typ[4:]}"
    return typ


def _check_shape(shape: Mapping) -> None:
    if "name" not in shape:
        raise ValueError("shape needs a 'name'")
    if ("target_class" in shape) == ("target_subjects_of" in shape):
        raise ValueError(
            f"shape {shape['name']}: exactly one of target_class / "
            "target_subjects_of"
        )
    for p in shape.get("properties", ()):
        if "path" not in p:
            raise ValueError(f"shape {shape['name']}: property needs 'path'")
        for bound in ("min_inclusive", "max_inclusive"):
            if bound in p and "datatype" not in p:
                raise ValueError(
                    f"shape {shape['name']} {p['path']}: {bound} needs "
                    "an explicit 'datatype' (range checks on unknown "
                    "lexical forms are silent wrong answers)"
                )


def _targets(df: DataFrame, shape: Mapping) -> DataFrame:
    if "target_class" in shape:
        return (
            df.where(
                (F.col("predicate") == _TYPE_PRED)
                & (F.col("object_kind") == S.KIND_RESOURCE)
                & (F.col("object_value") == shape["target_class"])
            )
            .select(F.col("subject").alias("focus"))
            .distinct()
        )
    return (
        df.where(F.col("predicate") == shape["target_subjects_of"])
        .select(F.col("subject").alias("focus"))
        .distinct()
    )


def _report(shape, path, constraint, focus_col, value_col) -> list:
    return [
        F.lit(shape).alias("shape"),
        focus_col.alias("focus"),
        F.lit(path).alias("path"),
        F.lit(constraint).alias("constraint"),
        value_col.cast("string").alias("value"),
    ]


def validate(
    graph: RDFGraph | DataFrame, shapes: Sequence[Mapping]
) -> DataFrame:
    """Validation report over `shapes`: one row per violation with
    (shape, focus, path, constraint, value) — value is the offending
    node key, or the observed count for count constraints."""
    from triplestore_spark.functions.typed import parse_typed_col

    # every SHACL scan filters on a constant predicate: read the POS
    # layout, so over a MaterializedGraph the constant lands on parquet
    # min/max stats of the copy sorted for it (operators/graph.route)
    df = as_graph(graph).layout("pos")
    parts: list[DataFrame] = []
    for shape in shapes:
        _check_shape(shape)
        name = shape["name"]
        targets = _targets(df, shape)
        for prop in shape.get("properties", ()):
            path = prop["path"]
            vals = (
                df.where(F.col("predicate") == path)
                .select(
                    F.col("subject").alias("focus"),
                    F.col("object_kind").alias("k"),
                    F.col("object_value").alias("v"),
                    F.col("object_type").alias("t"),
                    F.col("okey").alias("key"),
                )
                .join(targets, "focus", "leftsemi")
            )
            if "min_count" in prop or "max_count" in prop:
                counts = targets.join(
                    vals.groupBy("focus").agg(
                        F.count(F.lit(1)).alias("n")
                    ),
                    "focus",
                    "left",
                ).select("focus", F.coalesce("n", F.lit(0)).alias("n"))
                if "min_count" in prop:
                    parts.append(
                        counts.where(F.col("n") < prop["min_count"]).select(
                            *_report(name, path, "min_count",
                                     F.col("focus"), F.col("n"))
                        )
                    )
                if "max_count" in prop:
                    parts.append(
                        counts.where(F.col("n") > prop["max_count"]).select(
                            *_report(name, path, "max_count",
                                     F.col("focus"), F.col("n"))
                        )
                    )
            if "datatype" in prop:
                dt = prop["datatype"]
                bad = vals.where(
                    (F.col("k") != S.KIND_LITERAL)
                    | (
                        (F.col("t") != dt)
                        & (F.col("t") != _long_form(dt))
                    )
                )
                parts.append(
                    bad.select(
                        *_report(name, path, "datatype",
                                 F.col("focus"), F.col("key"))
                    )
                )
            if "node_kind" in prop:
                nk = prop["node_kind"]
                if nk not in _NODE_KINDS:
                    raise ValueError(
                        f"shape {name} {path}: node_kind must be one of "
                        f"{sorted(_NODE_KINDS)}"
                    )
                parts.append(
                    vals.where(F.col("k") != _NODE_KINDS[nk]).select(
                        *_report(name, path, "node_kind",
                                 F.col("focus"), F.col("key"))
                    )
                )
            if "pattern" in prop:
                parts.append(
                    vals.where(~F.col("v").rlike(prop["pattern"])).select(
                        *_report(name, path, "pattern",
                                 F.col("focus"), F.col("key"))
                    )
                )
            if "in" in prop:
                allowed = [str(x) for x in prop["in"]]
                bad = vals.where(
                    (F.col("k") != S.KIND_RESOURCE)
                    | ~F.col("v").isin(allowed)
                )
                parts.append(
                    bad.select(
                        *_report(name, path, "in",
                                 F.col("focus"), F.col("key"))
                    )
                )
            if "class" in prop:
                cls = prop["class"]
                typed = (
                    df.where(
                        (F.col("predicate") == _TYPE_PRED)
                        & (F.col("object_kind") == S.KIND_RESOURCE)
                        & (F.col("object_value") == cls)
                    )
                    .select(F.col("subject").alias("v"))
                    .distinct()
                )
                non_res = vals.where(F.col("k") != S.KIND_RESOURCE)
                untyped = vals.where(F.col("k") == S.KIND_RESOURCE).join(
                    typed, "v", "left_anti"
                )
                parts.append(
                    non_res.unionByName(untyped).select(
                        *_report(name, path, "class",
                                 F.col("focus"), F.col("key"))
                    )
                )
            for bound, cmp in (
                ("min_inclusive", "<"),
                ("max_inclusive", ">"),
            ):
                if bound not in prop:
                    continue
                typed_v = parse_typed_col(
                    F.col("v"), F.col("t"), prop["datatype"]
                )
                cond = (
                    typed_v.isNull()
                    | (typed_v < prop[bound])
                    if cmp == "<"
                    else typed_v.isNull() | (typed_v > prop[bound])
                )
                parts.append(
                    vals.where(cond).select(
                        *_report(name, path, bound,
                                 F.col("focus"), F.col("key"))
                    )
                )
    if not parts:
        raise ValueError("validate: no shapes/properties given")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------- SQL

_OKEY = (
    "CASE WHEN {a}.object_kind = 'lit' THEN "
    "CASE WHEN {a}.object_lang <> '' THEN "
    "'\"' || {a}.object_value || '\"@' || {a}.object_lang "
    "ELSE '\"' || {a}.object_value || '\"^^<' || {a}.object_type || '>' END "
    "WHEN {a}.object_kind = 'bnode' THEN '_:' || {a}.object_value "
    "ELSE '<' || {a}.object_value || '>' END"
)

_DUCK_CASTS = {
    S.XSD_INTEGER: "BIGINT",
    S.XSD_BYTE: "TINYINT",
    S.XSD_SHORT: "SMALLINT",
    S.XSD_UINTEGER: "BIGINT",
    S.XSD_UNSIGNED_BYTE: "SMALLINT",
    S.XSD_UNSIGNED_SHORT: "INTEGER",
    S.XSD_DOUBLE: "DOUBLE",
    S.XSD_FLOAT: "REAL",
    S.XSD_BOOLEAN: "BOOLEAN",
    S.XSD_STRING: "VARCHAR",
    S.XSD_DATETIME: "TIMESTAMP",
}


def validate_sql(shapes: Sequence[Mapping], table: str = "triples") -> str:
    """DuckDB twin of validate() — one UNION ALL over the same shape
    dicts, same violation rows."""
    parts: list[str] = []
    for shape in shapes:
        _check_shape(shape)
        name = _sql_str(shape["name"])
        if "target_class" in shape:
            tgt = (
                f"SELECT DISTINCT subject AS focus FROM {table} "
                f"WHERE predicate = {_sql_str(_TYPE_PRED)} AND "
                f"object_kind = 'res' AND "
                f"object_value = {_sql_str(shape['target_class'])}"
            )
        else:
            tgt = (
                f"SELECT DISTINCT subject AS focus FROM {table} WHERE "
                f"predicate = {_sql_str(shape['target_subjects_of'])}"
            )
        for prop in shape.get("properties", ()):
            path = prop["path"]
            key = _OKEY.format(a="t")
            vals = (
                f"SELECT t.subject AS focus, t.object_kind AS k, "
                f"t.object_value AS v, t.object_type AS ty, {key} AS vkey "
                f"FROM {table} t WHERE t.predicate = {_sql_str(path)} "
                f"AND t.subject IN (SELECT focus FROM ({tgt}) s)"
            )
            p_lit = _sql_str(path)

            def emit(constraint: str, where: str, value: str = "vkey"):
                parts.append(
                    f"SELECT {name} AS shape, focus, {p_lit} AS path, "
                    f'{_sql_str(constraint)} AS "constraint", '
                    f"CAST({value} AS VARCHAR) AS value "
                    f"FROM ({vals}) x WHERE {where}"
                )

            if "min_count" in prop or "max_count" in prop:
                counts = (
                    f"SELECT tg.focus, COALESCE(c.n, 0) AS n FROM "
                    f"({tgt}) tg LEFT JOIN (SELECT focus, COUNT(*) AS n "
                    f"FROM ({vals}) v GROUP BY focus) c USING (focus)"
                )
                if "min_count" in prop:
                    parts.append(
                        f"SELECT {name} AS shape, focus, {p_lit} AS path, "
                        f'\'min_count\' AS "constraint", '
                        f"CAST(n AS VARCHAR) AS value FROM ({counts}) x "
                        f"WHERE n < {int(prop['min_count'])}"
                    )
                if "max_count" in prop:
                    parts.append(
                        f"SELECT {name} AS shape, focus, {p_lit} AS path, "
                        f'\'max_count\' AS "constraint", '
                        f"CAST(n AS VARCHAR) AS value FROM ({counts}) x "
                        f"WHERE n > {int(prop['max_count'])}"
                    )
            if "datatype" in prop:
                dt = prop["datatype"]
                emit(
                    "datatype",
                    f"k <> 'lit' OR (ty <> {_sql_str(dt)} AND "
                    f"ty <> {_sql_str(_long_form(dt))})",
                )
            if "node_kind" in prop:
                kind = _NODE_KINDS[prop["node_kind"]]
                emit("node_kind", f"k <> {_sql_str(kind)}")
            if "pattern" in prop:
                emit(
                    "pattern",
                    f"NOT regexp_matches(v, {_sql_str(prop['pattern'])})",
                )
            if "in" in prop:
                lst = ", ".join(_sql_str(str(x)) for x in prop["in"])
                emit("in", f"k <> 'res' OR v NOT IN ({lst})")
            if "class" in prop:
                cls = _sql_str(prop["class"])
                typed = (
                    f"SELECT DISTINCT subject FROM {table} WHERE "
                    f"predicate = {_sql_str(_TYPE_PRED)} AND "
                    f"object_kind = 'res' AND object_value = {cls}"
                )
                emit(
                    "class",
                    f"k <> 'res' OR v NOT IN ({typed})",
                )
            for bound, cmp in (
                ("min_inclusive", "<"),
                ("max_inclusive", ">"),
            ):
                if bound not in prop:
                    continue
                dt = prop["datatype"]
                duck = _DUCK_CASTS[dt]
                decoded = (
                    f"CASE WHEN ty IN ({_sql_str(dt)}, "
                    f"{_sql_str(_long_form(dt))}) "
                    f"THEN TRY_CAST(v AS {duck}) END"
                )
                lim = prop[bound]
                lim_sql = (
                    lim if isinstance(lim, (int, float)) else _sql_str(lim)
                )
                emit(
                    bound,
                    f"({decoded}) IS NULL OR ({decoded}) {cmp} {lim_sql}",
                )
    if not parts:
        raise ValueError("validate_sql: no shapes/properties given")
    return " UNION ALL ".join(parts)
