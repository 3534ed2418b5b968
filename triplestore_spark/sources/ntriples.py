"""Lenient NTriples codec.

Decode reproduces the acceptance behavior of the reference's lenient
line parser (reference ntparser.go:43-97 and its component scanners
ntparser.go:99-252): unescaped inner quotes are accepted, terminator
lookahead skips spaces/tabs, trailing `#` comments after the closing
dot are tolerated, and the `.LENIENT`-suffixed W3C negative cases all
parse. Values keep the reference's quirks verbatim — e.g. a literal
with an explicit `^^<xsd:string>` datatype is NOT unescaped, while a
bare or lang-tagged literal IS (reference ntparser.go:78-93).

Encode reproduces reference encode.go:193-228 exactly, including the
context-driven IRI expansion (encode.go:230-246, Go url.QueryEscape ==
Python urllib.parse.quote_plus with default safe set).

Spark integration: decode is `spark.read.text` -> Catalyst pre-filter
of blank/comment lines -> `mapInArrow` Arrow-batched parse (the
state machine genuinely can't be a builtin expression); encode — with
or without a context — is a pure Catalyst `concat/when` expression
(whole-stage codegen, no Python in the hot path); the per-row Python
encoder survives only as the golden cross-check.
"""

from __future__ import annotations

from typing import Iterator, Optional
from urllib.parse import quote_plus

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.functions.keys import subject_key_expr, with_keys
from triplestore_spark.functions.literals import xsd_namespaced

# ---------------------------------------------------------------------------
# string literal escaping (reference encode.go:307-311, decode.go:297-301)
# ---------------------------------------------------------------------------


def escape_string_literal(s: str) -> str:
    return s.replace("\n", "\\n").replace("\r", "\\r")


def unescape_string_literal(s: str) -> str:
    return s.replace("\\n", "\n").replace("\\r", "\r")


# ---------------------------------------------------------------------------
# lenient line parser
# ---------------------------------------------------------------------------


class NTParseError(ValueError):
    pass


def _peek(s: str, i: int):
    """Next non-space/tab char at/after i, or (None, 0) at end-of-line
    (reference ntparser.go:265-278)."""
    adv = 0
    n = len(s)
    while i + adv < n:
        c = s[i + adv]
        if c not in (" ", "\t"):
            return c, adv
        adv += 1
    return None, 0


def _double_peek(s: str, i: int):
    """(first, advance, second): first two non-space chars
    (reference ntparser.go:280-286)."""
    first, adv = _peek(s, i)
    if first is None:
        return None, 0, None
    second, _ = _peek(s, i + adv + 1)
    return first, adv, second


def _parse_iri_subject(s: str, i: int):
    idx = i
    n = len(s)
    while True:
        if idx >= n:
            raise NTParseError("invalid IRI subject")
        r = s[idx]
        idx += 1
        if r == ">":
            found, adv = _peek(s, idx)
            if found == "<":
                return s[i : idx - 1], idx + adv


def _parse_bnode_subject(s: str, i: int):
    idx = i
    n = len(s)
    while True:
        if idx >= n:
            raise NTParseError("invalid bnode subject")
        r = s[idx]
        idx += 1
        if r == "<":
            return s[i : idx - 1], idx - 1
        if r in (" ", "\t"):
            found, adv = _peek(s, idx)
            if found == "<":
                return s[i : idx - 1], idx + adv


def _parse_predicate(s: str, i: int):
    idx = i
    n = len(s)
    while True:
        if idx >= n:
            raise NTParseError("invalid predicate")
        r = s[idx]
        idx += 1
        if r == ">":
            found, adv = _peek(s, idx)
            if found in ("<", '"', "_"):
                return s[i : idx - 1], idx + adv


def _parse_iri_object(s: str, i: int):
    idx = i
    n = len(s)
    while True:
        if idx >= n:
            raise NTParseError("invalid IRI object")
        r = s[idx]
        idx += 1
        if r == ">":
            found, adv = _peek(s, idx)
            if found == ".":
                return s[i : idx - 1]


def _parse_bnode_object(s: str, i: int):
    idx = i
    n = len(s)
    while True:
        if idx >= n:
            raise NTParseError("invalid bnode object")
        r = s[idx]
        idx += 1
        if r == ".":
            found, adv = _peek(s, idx)
            if found == "#" or found is None:
                return s[i : idx - 1]
        if r in (" ", "\t"):
            found, adv = _peek(s, idx)
            if found == ".":
                return s[i : idx - 1]


def _parse_literal_object(s: str, i: int):
    idx = i
    n = len(s)
    while True:
        if idx >= n:
            raise NTParseError("invalid literal object")
        r = s[idx]
        idx += 1
        if r == '"':
            first, adv, second = _double_peek(s, idx)
            if (
                (first == "." and second == "#")
                or (first == "." and second is None)
                or (first == "^" and second == "^")
                or first == "@"
            ):
                return s[i : idx - 1], idx + adv


def _parse_langtag(s: str, i: int):
    idx = i
    n = len(s)
    while True:
        if idx >= n:
            raise NTParseError("invalid language tag")
        r = s[idx]
        idx += 1
        if r == ".":
            found, _ = _peek(s, idx)
            if found == "#" or found is None:
                return s[i : idx - 1]
        if r == " ":
            found, _ = _peek(s, idx)
            if found == ".":
                return s[i : idx - 1]


def parse_nt_line(line: str) -> Optional[tuple]:
    """Parse one (already newline-free) NT line into a 7-tuple of
    TRIPLE_FIELDS, or None for blank/comment lines. Raises NTParseError
    on lines the reference rejects (ntparser.go:43-97)."""
    b = line.lstrip(" \t")
    if not b or b[0] == "#":
        return None

    if b.startswith("_:"):
        sub, i = _parse_bnode_subject(b, 2)
        is_bnode = True
    elif b.startswith("<"):
        sub, i = _parse_iri_subject(b, 1)
        is_bnode = False
    else:
        raise NTParseError(f"invalid subject in {b!r}")

    if i < len(b) and b[i] == "<":
        pred, i = _parse_predicate(b, i + 1)
    else:
        raise NTParseError(f"invalid predicate in {b!r}")

    if b.startswith("<", i):
        val = _parse_iri_object(b, i + 1)
        return (sub, is_bnode, pred, S.KIND_RESOURCE, val, "", "")
    if b.startswith("_:", i):
        val = _parse_bnode_object(b, i + 2)
        return (sub, is_bnode, pred, S.KIND_BNODE, val, "", "")
    if b.startswith('"', i):
        lit, j = _parse_literal_object(b, i + 1)
        if b.startswith("^^<", j):
            typ = _parse_iri_object(b, j + 3)
            # datatype kept verbatim; value NOT unescaped (quirk,
            # reference ntparser.go:78-87)
            return (sub, is_bnode, pred, S.KIND_LITERAL, lit, typ, "")
        if b.startswith("@", j):
            lang = _parse_langtag(b, j + 1)
            return (
                sub,
                is_bnode,
                pred,
                S.KIND_LITERAL,
                unescape_string_literal(lit),
                S.XSD_STRING,
                lang,
            )
        return (
            sub,
            is_bnode,
            pred,
            S.KIND_LITERAL,
            unescape_string_literal(lit),
            S.XSD_STRING,
            "",
        )
    raise NTParseError("invalid object")


# ---------------------------------------------------------------------------
# Arrow batch parse: vectorized grammar + state-machine fallback
# ---------------------------------------------------------------------------

# Conservative well-formed-line grammar, compiled by RE2 inside
# pyarrow.compute.extract_regex (C++-side, no Python per row). It fires
# ONLY where its interpretation provably equals the state machine's:
# - bracketed tokens exclude <>/" so terminator lookahead is unambiguous
# - literal content excludes '"' (the first closing quote IS the
#   terminator when the suffix matches; quirky inner-quote lines fail
#   the anchor and fall back)
# - anchored at end-of-line (the state machine tolerates trailing junk
#   after the dot in some productions; those lines fall back)
# pyarrow returns EMPTY STRINGS (not nulls) for capture groups that did
# not participate in the match, so participation is signalled by
# constant non-empty MARKER groups (om '<' / obm '_:' / tm '^^<');
# bnode-subject-ness comes from the line's first two chars; a
# participating lang tag is non-empty by its own grammar ([A-Za-z0-9-]+).
# Differential property tests assert batch == state machine.
_VEC_LINE_PATTERN = (
    r'^(?:<(?P<s>[^<>"]*)>|_:(?P<bs>[^ \t<]*))[ \t]*'
    r'<(?P<p>[^<>"]*)>[ \t]*'
    r'(?:(?P<om><)(?P<o>[^<>"]*)>'
    # bnode-object labels exclude '.'/'#' and must be followed by
    # explicit whitespace: the reference's parseBNodeObject terminates
    # a label at '.'-then-'#'/EOL (ntparser.go:205-216), so '_:.# .'
    # means label "" — labels with those characters (or no trailing
    # space) take the state-machine path instead of a greedy mismatch
    r"|(?P<obm>_:)(?P<ob>[^ \t.#]*)[ \t]"
    r'|"(?P<lit>[^"]*)"'
    r'(?:(?P<tm>\^\^<)(?P<typ>[^<>"]*)>|@(?P<lang>[A-Za-z0-9-]+))?'
    r")[ \t]*\.[ \t]*(?:#.*)?$"
)


def _arrow_triple_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(f.name, pa.bool_() if f.name == "subject_is_bnode" else pa.string())
            for f in S.TRIPLE_SCHEMA.fields
        ]
    )


def _rows_batch(rows: list[tuple], schema):
    """Python row tuples -> one pa.RecordBatch of `schema`."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(zip(*rows), schema)],
        schema=schema,
    )


def _vectorized_parse(lines_arr):
    """pa.StringArray of raw lines -> (cols in TRIPLE_FIELDS order for
    the MATCHED rows only, validity mask over all input rows). Rows
    the conservative grammar rejects (validity False) must go through
    the state machine."""
    import pyarrow.compute as pc

    trimmed = pc.utf8_ltrim(lines_arr, characters=" \t")
    m = pc.extract_regex(trimmed, _VEC_LINE_PATTERN)
    valid = m.is_valid()
    f = {
        k: m.field(k)
        for k in ("s", "bs", "p", "om", "o", "obm", "ob", "lit", "tm", "typ", "lang")
    }
    is_bn_sub = pc.starts_with(trimmed, "_:")
    subject = pc.if_else(is_bn_sub, f["bs"], f["s"])
    is_res = pc.equal(f["om"], "<")
    is_bn = pc.equal(f["obm"], "_:")
    kind = pc.if_else(
        is_res, S.KIND_RESOURCE, pc.if_else(is_bn, S.KIND_BNODE, S.KIND_LITERAL)
    )
    has_typ = pc.equal(f["tm"], "^^<")
    has_lang = pc.not_equal(f["lang"], "")
    unesc = pc.replace_substring(
        pc.replace_substring(f["lit"], pattern="\\n", replacement="\n"),
        pattern="\\r",
        replacement="\r",
    )
    # explicit ^^<...> datatype: value NOT unescaped (the quirk,
    # reference ntparser.go:78-87); bare/lang literal: unescaped
    value = pc.if_else(
        is_res, f["o"], pc.if_else(is_bn, f["ob"], pc.if_else(has_typ, f["lit"], unesc))
    )
    otype = pc.if_else(
        pc.or_(is_res, is_bn), "", pc.if_else(has_typ, f["typ"], S.XSD_STRING)
    )
    olang = pc.if_else(has_lang, f["lang"], "")
    cols = [subject, is_bn_sub, f["p"], kind, value, otype, olang]
    if bool(valid.null_count) or not pc.min(valid).as_py():
        cols = [pc.filter(c, valid) for c in cols]
    return cols, valid


def parse_nt_arrow(lines, srcs=None) -> tuple[list, list[tuple]]:
    """Parse a pa.StringArray of NT lines: the one batch parser behind
    every Spark decode.

    RE2 extract_regex + vectorized assembly handles the well-formed
    lines with no Python per row; only the lines the conservative
    grammar rejects go through the parse_nt_line state machine. Returns
    (record batches over TRIPLE_FIELDS, rejects), where each reject is
    (line, source, error) with `source` taken from the parallel `srcs`
    array (None without one). Blank and comment lines yield nothing;
    rows are not kept in input order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = _arrow_triple_schema()
    cols, valid = _vectorized_parse(lines)
    out = [pa.RecordBatch.from_arrays(cols, schema=schema)] if len(cols[0]) else []
    if len(cols[0]) == len(lines):
        return out, []
    inv = pc.invert(valid)
    bad_lines = pc.filter(lines, inv).to_pylist()
    bad_srcs = (
        pc.filter(srcs, inv).to_pylist() if srcs is not None else [None] * len(bad_lines)
    )
    rows, rejects = [], []
    for line, src in zip(bad_lines, bad_srcs):
        try:
            row = parse_nt_line(line)
        except NTParseError as e:
            rejects.append((line, src, str(e)))
            continue
        if row is not None:
            rows.append(row)
    if rows:
        out.append(_rows_batch(rows, schema))
    return out, rejects


def parse_nt_text(text: str) -> list[tuple]:
    """Parse a whole NT document (driver-side helper / oracle).

    Splits on '\\n' only and drops one trailing '\\r', like Go's
    bufio.ScanLines — str.splitlines() would also split on '\\r',
    \\x1c-\\x1e, \\x85, \\u2028 etc., which are valid characters inside
    lenient literals."""
    out = []
    for line in text.split("\n"):
        row = parse_nt_line(line[:-1] if line.endswith("\r") else line)
        if row is not None:
            out.append(row)
    return out


# ---------------------------------------------------------------------------
# Spark decode: text scan -> Arrow-batched parse
# ---------------------------------------------------------------------------


def _content_lines(
    lines: DataFrame, col: str, src: Optional[Column]
) -> DataFrame:
    """`value` (plus `_src` when `src` is given) for the lines that are
    not blank or comments — dropped JVM-side so Arrow only ships real
    work."""
    trimmed = F.ltrim(F.col(col))
    cols = [F.col(col).alias("value")]
    if src is not None:
        cols.append(src.alias("_src"))
    return lines.where(
        (F.length(trimmed) > 0) & (F.substring(trimmed, 1, 1) != "#")
    ).select(*cols)


def decode_lines_df(
    lines: DataFrame,
    col: str = "value",
    mode: str = "FAILFAST",
    file_col: Optional[str] = None,
) -> DataFrame:
    """Decode a DataFrame of NT lines into keyed triples: one
    `mapInArrow` over parse_nt_arrow.

    mode='FAILFAST' (default, the reference's behavior —
    ntparser.go:32-35 aborts on the first bad line) raises with the
    offending line AND, when `file_col` names a source-file column,
    the file it came from — the reference's DatasetDecoder wraps
    errors the same way (decode.go:258-279); at 10^6 files the name
    is the triage. mode='PERMISSIVE' skips unparseable lines (one
    corrupt line must not kill a 10^12-document job); use
    decode_lines_quarantine to keep the dropped lines.
    """
    if mode not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"unknown mode {mode!r}")
    lines = _content_lines(
        lines, col, F.col(file_col) if file_col is not None else None
    )
    permissive = mode == "PERMISSIVE"
    has_file = file_col is not None

    def _parse_batches(it: Iterator) -> Iterator:
        for batch in it:
            good, rejects = parse_nt_arrow(
                batch.column(0), batch.column(1) if has_file else None
            )
            if rejects and not permissive:
                line, src, err = rejects[0]
                where = f" in file {src!r}" if has_file else ""
                raise NTParseError(f"{err} in line {line[:200]!r}{where}")
            yield from good

    return with_keys(lines.mapInArrow(_parse_batches, schema=S.TRIPLE_SCHEMA))


# the triple columns of a quarantine row
_REJECT_TRIPLE = ("", False, "", "", "", "", "")


def decode_lines_quarantine(
    lines: DataFrame, col: str = "value", file_col: Optional[str] = None
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE decode that KEEPS the rejects: returns
    (triples_df, quarantine_df) where the quarantine carries
    (line, source_file, error) for every unparseable line — countable
    and samplable instead of silently dropped.

    Both outputs share one parse lineage; cache `lines` upstream if
    both will be consumed (two actions = two scans otherwise). Same
    parse_nt_arrow batch parser as decode_lines_df, so keeping the
    quarantine costs nothing on the clean lines."""
    from pyspark.sql import types as T

    src = F.col(file_col) if file_col is not None else F.lit("")
    pruned = _content_lines(lines, col, src)
    reject_fields = ("_line", "_source_file", "_error")
    full_schema = T.StructType(
        S.TRIPLE_SCHEMA.fields
        + [T.StructField(n, T.StringType()) for n in reject_fields]
    )

    def _parse_batches(it: Iterator) -> Iterator:
        import pyarrow as pa

        arrow_schema = _arrow_triple_schema()
        for n in reject_fields:
            arrow_schema = arrow_schema.append(pa.field(n, pa.string()))
        for batch in it:
            good, rejects = parse_nt_arrow(batch.column(0), batch.column(1))
            for b in good:
                nulls = [pa.nulls(b.num_rows, type=pa.string())] * 3
                yield pa.RecordBatch.from_arrays(
                    b.columns + nulls, schema=arrow_schema
                )
            if rejects:
                yield _rows_batch(
                    [_REJECT_TRIPLE + r for r in rejects], arrow_schema
                )

    parsed = pruned.mapInArrow(_parse_batches, schema=full_schema)
    good = with_keys(
        parsed.where(F.col("_error").isNull()).select(*S.TRIPLE_FIELDS)
    )
    bad = parsed.where(F.col("_error").isNotNull()).select(
        F.col("_line").alias("line"),
        F.col("_source_file").alias("source_file"),
        F.col("_error").alias("error"),
    )
    return good, bad


def nt_text_lines(reader, path: str) -> DataFrame:
    """(value, _src) text lines of the NT files under `path`, read with
    `reader` (spark.read or spark.readStream). Lines split the way the
    reference splits them (bufio.ScanLines, mirrored by parse_nt_text):
    on '\\n' only, with one trailing '\\r' dropped. Spark's default text
    reader also breaks lines at a bare '\\r', which is a valid character
    inside a lenient literal."""
    return reader.text(path, lineSep="\n").select(
        F.regexp_replace("value", "\r\\z", "").alias("value"),
        F.input_file_name().alias("_src"),
    )


def read_ntriples(
    spark: SparkSession, path: str, mode: str = "FAILFAST"
) -> DataFrame:
    """Dataset decode: one Spark task per file split — the distributed
    analog of the reference's goroutine-per-reader DatasetDecoder
    (reference decode.go:241-295). Parse failures name the offending
    file (decode.go:258-279)."""
    return decode_lines_df(nt_text_lines(spark.read, path), mode=mode, file_col="_src")


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _escape_expr(c: Column) -> Column:
    return F.replace(
        F.replace(c, F.lit("\n"), F.lit("\\n")), F.lit("\r"), F.lit("\\r")
    )


def build_iri(ctx: Optional[dict], iri: str) -> str:
    """Prefix expansion + QueryEscape + base prepend
    (reference encode.go:230-246). `ctx` = {'base': str, 'prefixes': {k: uri}}.
    Prefixes are applied in sorted-key order (Go iterates its map in
    random order; sorted is the deterministic choice)."""
    if not ctx:
        return iri
    prefixes = ctx.get("prefixes") or {}
    for k in sorted(prefixes):
        p = k + ":"
        if iri.startswith(p):
            iri = prefixes[k] + quote_plus(iri[len(p):])
    base = ctx.get("base") or ""
    if base and not iri.startswith("http"):
        iri = base + quote_plus(iri)
    return iri


def _quote_plus_expr(c: Column) -> Column:
    """Go url.QueryEscape as a Catalyst expression. Spark's url_encode
    is java.net.URLEncoder, which differs from Go (and Python's
    quote_plus) on exactly two characters: Java escapes '~' (Go keeps
    it) and keeps '*' (Go emits %2A) — both fixed up here. Everything
    else (space->'+', uppercase %XX, UTF-8 multibyte) agrees."""
    return F.replace(
        F.replace(F.url_encode(c), F.lit("%7E"), F.lit("~")),
        F.lit("*"),
        F.lit("%2A"),
    )


# Prefix count up to which the sequential fold unrolls into a
# when/otherwise chain (whole-stage-codegen'd). Each unrolled layer
# references its accumulator three times, so the expression tree grows
# 3^n — which is not only a plan-size problem (64 prefixes OOMed the
# driver while merely BUILDING the plan) but a PER-ROW cost: codegen
# does not eliminate the duplicated subtrees, so evaluation work is
# exponential in the prefix count too. Measured on 2.4M triples
# (local[32], r5): unrolled vs F.aggregate fold = 3.6M vs 2.3M
# triples/s at 1 prefix, ~even at 2, then the unrolled chain collapses
# (2.7x slower at 4 prefixes, 11x at 6 — 0.19M vs 2.09M t/s). The
# fold — a runtime higher-order function over a literal array,
# interpreted (CodegenFallback) but linear work and constant plan
# size — is therefore the default from 3 prefixes up; the unrolled
# chain survives only where it actually wins. Both paths are
# differentially locked against the golden encoder
# (tests/test_codec.py dispatch-boundary test). History: the cap was 6
# in r4 on the assumption codegen beats interpreted; the r5
# measurement (VERDICT r4 #5, tools/bench_codec_steady.py --context)
# inverted it.
CONTEXT_UNROLL_MAX_PREFIXES = 2


def _build_iri_expr(ctx: Optional[dict], c: Column) -> Column:
    """build_iri (reference encode.go:230-246) as a pure expression:
    sequential sorted-prefix fold (cascading expansions re-match, like
    the Go loop), then base prepend. Dispatches on prefix count — see
    CONTEXT_UNROLL_MAX_PREFIXES."""
    if not ctx:
        return c
    e = c
    prefixes = ctx.get("prefixes") or {}
    if 0 < len(prefixes) <= CONTEXT_UNROLL_MAX_PREFIXES:
        for k in sorted(prefixes):
            p = k + ":"
            e = F.when(
                e.startswith(p),
                F.concat(
                    F.lit(prefixes[k]),
                    _quote_plus_expr(
                        F.substring(e, len(p) + 1, (1 << 31) - 1)
                    ),
                ),
            ).otherwise(e)
    elif prefixes:
        entries = F.array(
            *[
                F.struct(
                    F.lit(k + ":").alias("p"),
                    F.lit(prefixes[k]).alias("u"),
                )
                for k in sorted(prefixes)
            ]
        )
        e = F.aggregate(
            entries,
            e,
            lambda acc, s: F.when(
                acc.startswith(s["p"]),
                F.concat(
                    s["u"],
                    _quote_plus_expr(
                        acc.substr(
                            F.length(s["p"]) + 1, F.lit((1 << 31) - 1)
                        )
                    ),
                ),
            ).otherwise(acc),
        )
    base = ctx.get("base") or ""
    if base:
        e = F.when(
            e.startswith("http"), e
        ).otherwise(F.concat(F.lit(base), _quote_plus_expr(e)))
    return e


def _xsd_namespaced_expr(c: Column) -> Column:
    """functions.literals.xsd_namespaced as an expression: any
    two-part `a:b` tag expands (reference types.go:37-44)."""
    parts = F.split(c, ":")
    return F.when(
        F.size(parts) == 2,
        F.concat(
            F.lit(S.XML_SCHEMA_NAMESPACE + "#"), F.element_at(parts, 2)
        ),
    ).otherwise(c)


def nt_encode_expr(ctx: Optional[dict] = None) -> Column:
    """One NT line (no trailing newline) as a pure Catalyst expression
    (reference encode.go:193-246). `ctx` = {'base': str, 'prefixes':
    {k: uri}} expands every IRI through build_iri's fold; with a
    context the typed object follows the reference's quirks (see
    below). encode_triple_py is the per-row golden cross-check
    (tests/test_codec.py parity test)."""
    bi = lambda c: _build_iri_expr(ctx, c)  # noqa: E731
    v = F.col("object_value")
    if ctx is None:
        typed = F.concat(
            F.lit('"'), v, F.lit('"^^<'), F.col("object_type"), F.lit(">")
        )
    elif "xsd" in (ctx.get("prefixes") or {}):
        typed = F.concat(
            F.lit('"'),
            v,
            F.lit('"^^<'),
            _xsd_namespaced_expr(F.col("object_type")),
            F.lit(">"),
        )
    else:
        # quirk preserved: with a context lacking an 'xsd' prefix the
        # typed object is omitted entirely (encode.go:215-223)
        typed = F.lit("")
    obj = (
        F.when(F.col("object_kind") == S.KIND_BNODE, F.concat(F.lit("_:"), v))
        .when(
            F.col("object_kind") == S.KIND_RESOURCE,
            F.concat(F.lit("<"), bi(v), F.lit(">")),
        )
        .when(
            F.col("object_lang") != "",
            F.concat(
                F.lit('"'), _escape_expr(v), F.lit('"@'), F.col("object_lang")
            ),
        )
        .when(
            F.col("object_type") == S.XSD_STRING,
            F.concat(F.lit('"'), _escape_expr(v), F.lit('"')),
        )
        .otherwise(typed)
    )
    return F.concat(
        subject_key_expr(bi(F.col("subject"))),
        F.lit(" <"),
        bi(F.col("predicate")),
        F.lit("> "),
        obj,
        F.lit(" ."),
    )


def encode_triple_py(row: tuple, ctx: Optional[dict] = None) -> str:
    """Single-triple NT encode incl. trailing ' .\\n'
    (reference encode.go:193-228)."""
    sub, is_bnode, pred, kind, value, typ, lang = row
    if is_bnode:
        s = "_:" + build_iri(ctx, sub)
    else:
        s = "<" + build_iri(ctx, sub) + ">"
    out = s + " <" + build_iri(ctx, pred) + "> "
    if kind == S.KIND_BNODE:
        out += "_:" + value
    elif kind == S.KIND_RESOURCE:
        out += "<" + build_iri(ctx, value) + ">"
    else:
        if lang:
            out += '"' + escape_string_literal(value) + '"@' + lang
        elif typ == S.XSD_STRING:
            out += '"' + escape_string_literal(value) + '"'
        else:
            if ctx is not None:
                # quirk preserved: with a context lacking an 'xsd'
                # prefix the object is omitted (encode.go:215-223)
                if "xsd" in (ctx.get("prefixes") or {}):
                    out += '"' + value + '"^^<' + xsd_namespaced(typ) + ">"
            else:
                out += '"' + value + '"^^<' + typ + ">"
    return out + " .\n"


def encode_df(df: DataFrame, ctx: Optional[dict] = None) -> DataFrame:
    """Triples -> one-column DataFrame of NT lines (no newline; the
    text sink adds it), through nt_encode_expr with or without a
    context. encode_triple_py is the per-row golden reference it is
    differentially tested against."""
    return df.select(nt_encode_expr(ctx).alias("value"))


def encode_triples(df: DataFrame, ctx: Optional[dict] = None) -> str:
    """Collect an encoded NT document driver-side (golden tests / CLI).
    Output is sorted by tkey descending like `Triples.Sort`
    (reference source.go:53-55) for determinism."""
    rows = (
        with_keys(df.select(*S.TRIPLE_FIELDS))
        .orderBy(F.desc("tkey"))
        .select(*S.TRIPLE_FIELDS)
        .collect()
    )
    return "".join(encode_triple_py(tuple(r), ctx) for r in rows)


def write_ntriples(df: DataFrame, path: str, ctx: Optional[dict] = None) -> None:
    encode_df(df, ctx).write.mode("overwrite").text(path)
