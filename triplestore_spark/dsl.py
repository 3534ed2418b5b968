"""Driver-side triple construction DSL.

Mirrors the reference's builder surface (reference dsl.go:11-103,
dsl.go:176-532) for test ergonomics and for melting driver-side Python
values into triples. These objects are plain Python; DataFrames are
built from them via `triples_to_df`. All lexical forms match Go
byte-for-byte (see functions/literals.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from typing import Iterable

from triplestore_spark import schema as S
from triplestore_spark.functions.literals import (
    go_fmt_bool,
    go_fmt_datetime,
    go_fmt_float,
    go_fmt_int,
)
from triplestore_spark.session import local_frame


@dataclass(frozen=True)
class Obj:
    """An RDF object: resource | literal | bnode (reference rdf.go:84-88)."""

    kind: str
    value: str
    typ: str = ""
    lang: str = ""

    def okey(self) -> str:
        """Canonical object key (reference rdf.go:102-113)."""
        if self.kind == S.KIND_LITERAL:
            if self.lang:
                return f'"{self.value}"@{self.lang}'
            return f'"{self.value}"^^<{self.typ}>'
        if self.kind == S.KIND_BNODE:
            return f"_:{self.value}"
        return f"<{self.value}>"


@dataclass(frozen=True)
class Triple:
    subject: str
    predicate: str
    obj: Obj
    subject_is_bnode: bool = False
    _tkey: str = field(default="", compare=False, repr=False)

    def tkey(self) -> str:
        """Canonical triple key (reference rdf.go:46-58)."""
        sub = f"_:{self.subject}" if self.subject_is_bnode else f"<{self.subject}>"
        return f"{sub}<{self.predicate}>{self.obj.okey()}"

    def as_row(self) -> tuple:
        return (
            self.subject,
            self.subject_is_bnode,
            self.predicate,
            self.obj.kind,
            self.obj.value,
            self.obj.typ,
            self.obj.lang,
        )

    def equal(self, other: "Triple") -> bool:
        """Key-based equality (reference rdf.go:69-82)."""
        return self.tkey() == other.tkey()


# ---- object constructors (reference dsl.go:61-63, dsl.go:176-506) ----


def resource(s: str) -> Obj:
    return Obj(S.KIND_RESOURCE, s)


def bnode(s: str) -> Obj:
    return Obj(S.KIND_BNODE, s)


def lit_string(v: str) -> Obj:
    return Obj(S.KIND_LITERAL, v, S.XSD_STRING)


def lit_string_lang(v: str, lang: str) -> Obj:
    # the reference stores typ=xsd:string alongside the lang tag
    # (dsl.go:459-464) but identity omits it (rdf.go:104-106)
    return Obj(S.KIND_LITERAL, v, S.XSD_STRING, lang)


def lit_bool(v: bool) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_bool(v), S.XSD_BOOLEAN)


def lit_int(v: int) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_int(v), S.XSD_INTEGER)


def lit_int8(v: int) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_int(v), S.XSD_BYTE)


def lit_int16(v: int) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_int(v), S.XSD_SHORT)


def lit_uint(v: int) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_int(v), S.XSD_UINTEGER)


def lit_uint8(v: int) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_int(v), S.XSD_UNSIGNED_BYTE)


def lit_uint16(v: int) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_int(v), S.XSD_UNSIGNED_SHORT)


def lit_float64(v: float) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_float(v, 64), S.XSD_DOUBLE)


def lit_float32(v: float) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_float(v, 32), S.XSD_FLOAT)


def lit_datetime(v: datetime) -> Obj:
    return Obj(S.KIND_LITERAL, go_fmt_datetime(v), S.XSD_DATETIME)


def lit_typed(value: str, typ: str) -> Obj:
    """Verbatim lexical form + open datatype tag (custom types allowed,
    reference ntparser_test.go:59-64)."""
    return Obj(S.KIND_LITERAL, value, typ)


def object_literal(v) -> Obj:
    """Dynamic Python value -> typed literal (reference dsl.go:105-142).

    bool checked before int (bool is an int subtype in Python); any
    object with __str__ falls back to a string literal like Go's
    fmt.Stringer case.
    """
    if isinstance(v, str):
        return lit_string(v)
    if isinstance(v, bool):
        return lit_bool(v)
    if isinstance(v, int):
        return lit_int(v)
    if isinstance(v, float):
        return lit_float64(v)
    if isinstance(v, datetime):
        return lit_datetime(v)
    if v is None:
        raise TypeError("unsupported literal type None")
    return lit_string(str(v))


# ---- fluent triple builders (reference dsl.go:47-95) ----


class _TripleBuilder:
    def __init__(self, sub: str, pred: str, is_bnode: bool = False):
        self._sub = sub
        self._pred = pred
        self._is_bnode = is_bnode

    def _make(self, obj: Obj) -> Triple:
        return Triple(self._sub, self._pred, obj, self._is_bnode)

    def resource(self, s: str) -> Triple:
        return self._make(resource(s))

    def bnode(self, s: str) -> Triple:
        return self._make(bnode(s))

    def object(self, o: Obj) -> Triple:
        return self._make(o)

    def string_literal(self, v: str) -> Triple:
        return self._make(lit_string(v))

    def string_literal_with_lang(self, v: str, lang: str) -> Triple:
        return self._make(lit_string_lang(v, lang))

    def boolean_literal(self, v: bool) -> Triple:
        return self._make(lit_bool(v))

    def integer_literal(self, v: int) -> Triple:
        return self._make(lit_int(v))

    def float64_literal(self, v: float) -> Triple:
        return self._make(lit_float64(v))

    def float32_literal(self, v: float) -> Triple:
        return self._make(lit_float32(v))

    def datetime_literal(self, v: datetime) -> Triple:
        return self._make(lit_datetime(v))


def subj_pred(s: str, p: str) -> _TripleBuilder:
    return _TripleBuilder(s, p)


def bnode_pred(s: str, p: str) -> _TripleBuilder:
    return _TripleBuilder(s, p, is_bnode=True)


def subj_pred_res(s: str, p: str, r: str) -> Triple:
    return subj_pred(s, p).resource(r)


# ---- literal parsing (reference dsl.go:144-174) ----

_PARSERS = {
    S.XSD_BOOLEAN: lambda v: {"true": True, "false": False, "1": True, "0": False}[v],
    S.XSD_INTEGER: int,
    S.XSD_BYTE: int,
    S.XSD_SHORT: int,
    S.XSD_UINTEGER: int,
    S.XSD_UNSIGNED_BYTE: int,
    S.XSD_UNSIGNED_SHORT: int,
    S.XSD_DOUBLE: float,
    S.XSD_FLOAT: float,
    S.XSD_STRING: str,
    S.XSD_DATETIME: lambda v: datetime.fromisoformat(v.replace("Z", "+00:00")),
}


def parse_literal(obj: Obj):
    """Typed literal -> native value, strict type check
    (reference dsl.go:144-174: 'literal is not an X but Y')."""
    if obj.kind != S.KIND_LITERAL:
        raise ValueError("cannot parse literal: object is not literal")
    parser = _PARSERS.get(obj.typ)
    if parser is None:
        raise ValueError(f"unknown literal type: {obj.typ}")
    return parser(obj.value)


def parse_typed(obj: Obj, expected_typ: str):
    if obj.kind != S.KIND_LITERAL:
        raise ValueError(f"cannot parse {expected_typ}: object is not literal")
    if obj.typ != expected_typ:
        raise ValueError(f"literal is not an {expected_typ} but {obj.typ}")
    return _PARSERS[expected_typ](obj.value)


# ---- DataFrame bridge ----


def triples_to_df(spark, triples: Iterable[Triple]):
    """Materialize driver-side triples as a keyed DataFrame."""
    from triplestore_spark.functions.keys import with_keys

    rows = [t.as_row() for t in triples]
    return with_keys(local_frame(spark, rows, S.TRIPLE_SCHEMA))


def row_to_triple(row) -> Triple:
    return Triple(
        subject=row["subject"],
        predicate=row["predicate"],
        subject_is_bnode=bool(row["subject_is_bnode"]),
        obj=Obj(
            kind=row["object_kind"],
            value=row["object_value"],
            typ=row["object_type"] or "",
            lang=row["object_lang"] or "",
        ),
    )
