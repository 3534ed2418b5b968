"""Turtle (Terse RDF Triple Language) source/sink — beyond the
reference (it ships NT + a binary codec only; most published RDF is
Turtle, so a switcher's first file often is too).

Reader design: Turtle is a STATEFUL grammar — @prefix bindings scope
forward, statements span lines, strings may contain newlines — so a
file cannot be line-split the way NT can (sources/ntriples.py keeps
the splittable at-scale path). Parallelism here is per FILE: the
`binaryFile` datasource lists (path, content) rows, one Spark task
parses each file through `mapInPandas`, and the recursive-descent
parser below emits TRIPLE_FIELDS tuples. That is the honest scale
shape for this format — a 100 TB corpus arrives as many files, and
task-per-file saturates the cluster; one giant Turtle file is a data
layout bug no engine can shard safely.

Supported grammar: @prefix/PREFIX, @base/BASE (relative IRIs resolve
via RFC 3986 — urllib.parse.urljoin), prefixed names, 'a' ->
rdf:type, ';' predicate lists, ',' object lists, bnode labels,
anonymous bnodes '[]' and property lists '[ p o ; ... ]' (fresh
labels are deterministic: md5(file)-prefixed counters, so re-reading
yields identical graphs while distinct files can never collide),
short/long single/double-quoted strings with the full escape set,
@lang tags, ^^ datatypes, and the numeric/boolean shorthands
(xsd:integer / xsd:decimal / xsd:double / xsd:boolean, lexical form
preserved per spec). RDF collections '( ... )' are REFUSED with a
clear error (rdf:first/rest desugaring is a silent data reshape the
caller should opt into, not inherit).

Storage conventions (match the NT decoder, sources/ntriples.py):
IRIs store without angle brackets; prefixed names EXPAND (Turtle
semantics — unlike SPARQL text queries, where undeclared compact
IRIs address this repo's compact-IRI graphs verbatim, a Turtle
document's prefixes are declarations, so an undeclared one is a
parse error); datatype IRIs in the XMLSchema namespace compact to
the engine's canonical 'xsd:local' tags (functions/literals re-
expands them at NT-encode time); plain/lang literals carry
xsd:string. One deliberate divergence from the NT path: TYPED
literal values here ARE unescaped (spec behavior) — the NT decoder
keeps them verbatim only as a reference-parity quirk
(ntparser.go:78-87), which a new format has no duty to inherit.

Writer: `turtle_lines` emits one subject-grouped statement block per
subject ('p o ; p2 o2, o3 .') with FULL IRIs — no @prefix header, so
every part-file a distributed write produces is a self-contained
valid Turtle document (a header would have to lead every partition).
`write_turtle` sorts within partitions by subject for stable output.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import urljoin

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.functions.keys import subject_key_expr

RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_XSD_NS = S.XML_SCHEMA_NAMESPACE + "#"


class TurtleParseError(ValueError):
    def __init__(self, msg: str, line: int, fname: str = ""):
        where = f"{fname or '<string>'}:{line}"
        super().__init__(f"{where}: {msg}")
        self.line = line


_ESCAPES = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}

_PN_PREFIX = re.compile(r"[A-Za-z][A-Za-z0-9_.-]*")
_PN_LOCAL = re.compile(r"[A-Za-z0-9_%][A-Za-z0-9_.%-]*")
_BNODE_LABEL = re.compile(r"[A-Za-z0-9_][A-Za-z0-9_.-]*")
_LANGTAG = re.compile(r"[A-Za-z]+(?:-[A-Za-z0-9]+)*")
# Turtle grammar order: DOUBLE (mantissa + mandatory exponent),
# DECIMAL ([0-9]* '.' [0-9]+ — digits REQUIRED after the dot, so a
# statement-terminating '.' is never swallowed), INTEGER.
_NUMBER = re.compile(
    r"[+-]?(?:(?:\d+\.\d*|\.\d+|\d+)[eE][+-]?\d+|\d*\.\d+|\d+)"
)
_IRIREF = re.compile(r'<([^<>"{}|^`\\\x00-\x20]*)>')


class _Parser:
    """One Turtle document -> list of TRIPLE_FIELDS 7-tuples."""

    def __init__(self, text: str, fname: str = ""):
        self.s = text
        self.i = 0
        self.fname = fname
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self._bnode_n = 0
        self._gen = "g" + hashlib.md5(
            (fname or "").encode()
        ).hexdigest()[:8]
        self.rows: list[tuple] = []

    # -- plumbing ------------------------------------------------------

    def _line(self) -> int:
        return self.s.count("\n", 0, self.i) + 1

    def err(self, msg: str) -> TurtleParseError:
        return TurtleParseError(msg, self._line(), self.fname)

    def skip_ws(self) -> None:
        s, n = self.s, len(self.s)
        while self.i < n:
            c = s[self.i]
            if c in " \t\r\n":
                self.i += 1
            elif c == "#":
                j = s.find("\n", self.i)
                self.i = n if j < 0 else j + 1
            else:
                return

    def at(self, tok: str) -> bool:
        return self.s.startswith(tok, self.i)

    def take(self, tok: str) -> bool:
        if self.at(tok):
            self.i += len(tok)
            return True
        return False

    def expect(self, tok: str) -> None:
        if not self.take(tok):
            got = self.s[self.i:self.i + 12]
            raise self.err(f"expected {tok!r}, got {got!r}")

    def _keyword(self, kw: str) -> bool:
        """Case-insensitive SPARQL-style directive keyword followed by
        a non-name character."""
        end = self.i + len(kw)
        if self.s[self.i:end].upper() != kw:
            return False
        if end < len(self.s) and (self.s[end].isalnum() or self.s[end] in "_:"):
            return False
        self.i = end
        return True

    # -- terms ---------------------------------------------------------

    def iriref(self) -> str:
        m = _IRIREF.match(self.s, self.i)
        if not m:
            raise self.err("malformed <IRI>")
        self.i = m.end()
        iri = _unescape(m.group(1), self)
        if self.base and "://" not in iri:
            return urljoin(self.base, iri)
        return iri

    def pname(self) -> str | None:
        """Prefixed name at the cursor -> expanded IRI, or None."""
        m = _PN_PREFIX.match(self.s, self.i)
        pfx_end = m.end() if m else self.i
        if self.s[pfx_end:pfx_end + 1] != ":":
            return None
        pfx = self.s[self.i:pfx_end]
        ml = _PN_LOCAL.match(self.s, pfx_end + 1)
        local_end = ml.end() if ml else pfx_end + 1
        local = self.s[pfx_end + 1:local_end]
        # PN_LOCAL cannot END with '.' — that dot terminates the
        # statement (spec); back off trailing dots
        while local.endswith("."):
            local = local[:-1]
            local_end -= 1
        if pfx not in self.prefixes:
            raise self.err(f"undeclared prefix '{pfx}:'")
        self.i = local_end
        return self.prefixes[pfx] + local

    def bnode_label(self) -> str:
        m = _BNODE_LABEL.match(self.s, self.i)
        if not m:
            raise self.err("malformed blank-node label")
        label = m.group(0)
        end = m.end()
        while label.endswith("."):  # trailing dot = statement end
            label = label[:-1]
            end -= 1
        self.i = end
        return label

    def fresh_bnode(self) -> str:
        self._bnode_n += 1
        return f"{self._gen}b{self._bnode_n}"

    def string_body(self) -> str:
        s = self.s
        for q in ('"""', "'''", '"', "'"):
            if s.startswith(q, self.i):
                quote = q
                break
        else:
            raise self.err("expected string literal")
        j = self.i + len(quote)
        out: list[str] = []
        n = len(s)
        while j < n:
            c = s[j]
            if c == "\\":
                out.append(_one_escape(s, j, self))
                j += 6 if s[j + 1:j + 2] == "u" else (
                    10 if s[j + 1:j + 2] == "U" else 2
                )
                continue
            if s.startswith(quote, j):
                self.i = j + len(quote)
                return "".join(out)
            if len(quote) == 1 and c == "\n":
                raise self.err("newline in short string literal")
            out.append(c)
            j += 1
        raise self.err("unterminated string literal")

    def literal_object(self) -> tuple[str, str, str, str]:
        val = self.string_body()
        if self.take("^^"):
            typ = self.datatype_iri()
            return (S.KIND_LITERAL, val, typ, "")
        if self.take("@"):
            m = _LANGTAG.match(self.s, self.i)
            if not m:
                raise self.err("malformed language tag")
            self.i = m.end()
            return (S.KIND_LITERAL, val, S.XSD_STRING, m.group(0))
        return (S.KIND_LITERAL, val, S.XSD_STRING, "")

    def datatype_iri(self) -> str:
        if self.at("<"):
            iri = self.iriref()
        else:
            iri = self.pname()
            if iri is None:
                raise self.err("expected datatype IRI after '^^'")
        # canonical engine tag for the XMLSchema namespace
        if iri.startswith(_XSD_NS):
            return "xsd:" + iri[len(_XSD_NS):]
        return iri

    # -- grammar -------------------------------------------------------

    def parse(self) -> list[tuple]:
        self.skip_ws()
        while self.i < len(self.s):
            if self.take("@prefix"):
                self._prefix_directive(dotted=True)
            elif self.take("@base"):
                self._base_directive(dotted=True)
            elif self._keyword("PREFIX"):
                self._prefix_directive(dotted=False)
            elif self._keyword("BASE"):
                self._base_directive(dotted=False)
            else:
                self._triples()
                self.skip_ws()
                self.expect(".")
            self.skip_ws()
        return self.rows

    def _prefix_directive(self, dotted: bool) -> None:
        self.skip_ws()
        m = _PN_PREFIX.match(self.s, self.i)
        pfx_end = m.end() if m else self.i
        if self.s[pfx_end:pfx_end + 1] != ":":
            raise self.err("expected 'prefix:' in @prefix")
        pfx = self.s[self.i:pfx_end]
        self.i = pfx_end + 1
        self.skip_ws()
        self.prefixes[pfx] = self.iriref()
        if dotted:
            self.skip_ws()
            self.expect(".")

    def _base_directive(self, dotted: bool) -> None:
        self.skip_ws()
        self.base = self.iriref()
        if dotted:
            self.skip_ws()
            self.expect(".")

    def _triples(self) -> None:
        self.skip_ws()
        if self.take("_:"):
            subj, is_b = self.bnode_label(), True
        elif self.at("["):
            subj, is_b = self._bnode_property_list(), True
            self.skip_ws()
            # '[ p o ] .' — a property list may BE the whole
            # statement (its triples already emitted)
            if self.at("."):
                return
        elif self.at("("):
            raise self.err(
                "RDF collections '( ... )' are not supported "
                "(rdf:first/rest desugaring must be explicit)"
            )
        elif self.at("<"):
            subj, is_b = self.iriref(), False
        else:
            p = self.pname()
            if p is None:
                raise self.err("expected subject")
            subj, is_b = p, False
        self._predicate_object_list(subj, is_b)

    def _predicate_object_list(self, subj: str, is_b: bool) -> None:
        while True:
            self.skip_ws()
            pred = self._verb()
            while True:
                self.skip_ws()
                self._object(subj, is_b, pred)
                self.skip_ws()
                if not self.take(","):
                    break
            if not self.take(";"):
                return
            self.skip_ws()
            # trailing ';' before '.' or ']' is legal
            if self.at(".") or self.at("]"):
                return

    def _verb(self) -> str:
        if self.at("a"):
            nxt = self.s[self.i + 1:self.i + 2]
            # 'a' is rdf:type only as a standalone token; a name or
            # prefixed name starting with 'a' falls through
            if nxt == "" or nxt in ' \t\r\n<[#"':
                self.i += 1
                return RDF_TYPE_IRI
        if self.at("<"):
            return self.iriref()
        p = self.pname()
        if p is None:
            raise self.err("expected predicate")
        return p

    def _object(self, subj: str, is_b: bool, pred: str) -> None:
        if self.take("_:"):
            self._emit(subj, is_b, pred, S.KIND_BNODE,
                       self.bnode_label(), "", "")
        elif self.at("["):
            label = self._bnode_property_list()
            self._emit(subj, is_b, pred, S.KIND_BNODE, label, "", "")
        elif self.at("("):
            raise self.err(
                "RDF collections '( ... )' are not supported "
                "(rdf:first/rest desugaring must be explicit)"
            )
        elif self.at("<"):
            self._emit(subj, is_b, pred, S.KIND_RESOURCE,
                       self.iriref(), "", "")
        elif self.at('"') or self.at("'"):
            self._emit(subj, is_b, pred, *self.literal_object())
        elif self._keyword("TRUE"):
            self._emit(subj, is_b, pred, S.KIND_LITERAL, "true",
                       S.XSD_BOOLEAN, "")
        elif self._keyword("FALSE"):
            self._emit(subj, is_b, pred, S.KIND_LITERAL, "false",
                       S.XSD_BOOLEAN, "")
        else:
            m = _NUMBER.match(self.s, self.i)
            if m and m.group(0) not in ("+", "-"):
                lex = m.group(0)
                self.i = m.end()
                if "e" in lex or "E" in lex:
                    typ = S.XSD_DOUBLE
                elif "." in lex:
                    typ = "xsd:decimal"
                else:
                    typ = S.XSD_INTEGER
                self._emit(subj, is_b, pred, S.KIND_LITERAL, lex, typ, "")
                return
            p = self.pname()
            if p is None:
                raise self.err("expected object")
            self._emit(subj, is_b, pred, S.KIND_RESOURCE, p, "", "")

    def _bnode_property_list(self) -> str:
        """'[' predicateObjectList? ']' -> fresh deterministic label;
        nested triples emit inline."""
        self.expect("[")
        label = self.fresh_bnode()
        self.skip_ws()
        if not self.take("]"):
            self._predicate_object_list(label, True)
            self.skip_ws()
            self.expect("]")
        return label

    def _emit(self, subj, is_b, pred, kind, val, typ, lang) -> None:
        self.rows.append((subj, is_b, pred, kind, val, typ, lang))


def _one_escape(s: str, j: int, p: "_Parser") -> str:
    e = s[j + 1:j + 2]
    if e in _ESCAPES:
        return _ESCAPES[e]
    if e == "u":
        return chr(int(s[j + 2:j + 6], 16))
    if e == "U":
        return chr(int(s[j + 2:j + 10], 16))
    raise p.err(f"bad escape '\\{e}'")


def _unescape(s: str, p: "_Parser") -> str:
    if "\\" not in s:
        return s
    out, j = [], 0
    while j < len(s):
        if s[j] == "\\":
            out.append(_one_escape(s, j, p))
            j += 6 if s[j + 1:j + 2] == "u" else (
                10 if s[j + 1:j + 2] == "U" else 2
            )
        else:
            out.append(s[j])
            j += 1
    return "".join(out)


def parse_turtle_text(text: str, fname: str = "") -> list[tuple]:
    """Parse one Turtle document to TRIPLE_FIELDS 7-tuples."""
    return _Parser(text, fname).parse()


def read_turtle(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Turtle decode: one task per FILE (binaryFile rows
    through mapInPandas) — see module doc for why Turtle cannot be
    line-split. Returns the bare TRIPLE_SCHEMA frame (callers key it
    like any other source)."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def gen(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                rows.extend(
                    parse_turtle_text(
                        bytes(content).decode("utf-8"), fname=str(fpath)
                    )
                )
            yield pd.DataFrame(rows, columns=S.TRIPLE_FIELDS)

    return files.mapInPandas(gen, schema=S.TRIPLE_SCHEMA)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _turtle_escape(c: Column) -> Column:
    for raw, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")):
        c = F.replace(c, F.lit(raw), F.lit(esc))
    return c


def _expand_type(c: Column) -> Column:
    """'xsd:local' (engine-canonical) back to the full XMLSchema IRI;
    anything else verbatim — the exact engine convention (any
    two-part 'a:b' tag expands, functions/literals / reference
    types.go:37-44), so Turtle and NT encode datatypes identically."""
    parts = F.split(c, ":")
    return F.when(
        F.size(parts) == 2,
        F.concat(F.lit(_XSD_NS), F.element_at(parts, 2)),
    ).otherwise(c)


def _term_expr() -> Column:
    quoted = F.concat(
        F.lit('"'), _turtle_escape(F.col("object_value")), F.lit('"')
    )
    return (
        F.when(
            F.col("object_kind") == S.KIND_RESOURCE,
            F.concat(F.lit("<"), F.col("object_value"), F.lit(">")),
        )
        .when(
            F.col("object_kind") == S.KIND_BNODE,
            F.concat(F.lit("_:"), F.col("object_value")),
        )
        .when(F.col("object_lang") != "",
              F.concat(quoted, F.lit("@"), F.col("object_lang")))
        .when(F.col("object_type") == S.XSD_STRING, quoted)
        .otherwise(
            F.concat(
                quoted, F.lit("^^<"),
                _expand_type(F.col("object_type")), F.lit(">"),
            )
        )
    )


def turtle_lines(df: DataFrame) -> DataFrame:
    """One subject-grouped Turtle statement block per subject ->
    DataFrame['value']. FULL IRIs only (self-contained part files, no
    @prefix header — module doc). Deterministic: predicates and
    objects sort lexically inside the block. One (subject) hash
    aggregation; the assembled block materializes in the final
    projection."""
    po = F.concat(
        F.lit("<"), F.col("predicate"), F.lit("> "), _term_expr()
    )
    per_subj = (
        df.select(
            "subject", "subject_is_bnode", po.alias("_po")
        )
        .groupBy("subject", "subject_is_bnode")
        .agg(F.array_sort(F.collect_list("_po")).alias("_pos"))
    )
    return per_subj.select(
        F.concat(
            subject_key_expr(), F.lit(" "),
            F.array_join("_pos", " ;\n    "), F.lit(" ."),
        ).alias("value")
    )


def write_turtle(df: DataFrame, path: str) -> None:
    """Write the graph as Turtle text files, subject-sorted within
    partitions (stable diffs; every part file is valid standalone
    Turtle)."""
    turtle_lines(df).sortWithinPartitions("value").write.mode(
        "overwrite"
    ).text(path)
