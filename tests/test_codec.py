"""Codec roundtrips + W3C suite — mirrors reference codec_test.go and
ntparser_w3c_test.go."""

import glob
import os
import re
from datetime import datetime, timezone

import pytest

from triplestore_spark.dsl import (
    Obj,
    Triple,
    bnode_pred,
    lit_datetime,
    subj_pred,
    triples_to_df,
)
from triplestore_spark.sources.binary import (
    decode_binary_bytes,
    encode_triple_bytes,
)
from triplestore_spark.sources.ntriples import (
    NTParseError,
    encode_triple_py,
    parse_nt_line,
    parse_nt_text,
)
from triplestore_spark.schema import TRIPLE_FIELDS

from oracles import arrow_parse_rows

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def rows_to_keyset(rows):
    return {
        Triple(r[0], r[2], Obj(r[3], r[4], r[5], r[6]), r[1]).tkey() for r in rows
    }


# triple corpus shaped like reference codec_test.go:53-127
CORPUS = [
    subj_pred("sub", "pred").resource("obj"),
    subj_pred("", "").resource(""),
    subj_pred("sub", "pred").string_literal(""),
    subj_pred("sub", "pred").string_literal("obj"),
    subj_pred("sub", "pred").string_literal("line one\nline two"),
    subj_pred("sub", "pred").string_literal("carriage\rreturn"),
    subj_pred("sub", "pred").string_literal("x" * 65000),
    subj_pred("sub", "pred").integer_literal(9223372036854775807),
    subj_pred("sub", "pred").integer_literal(-9223372036854775808),
    subj_pred("sub", "pred").boolean_literal(True),
    subj_pred("sub", "pred").boolean_literal(False),
    subj_pred("sub", "pred").float64_literal(3.14159),
    subj_pred("sub", "pred").datetime_literal(
        datetime(2017, 1, 1, 12, 0, 0, tzinfo=timezone.utc)
    ),
    subj_pred("sub", "pred").string_literal_with_lang("obj", "en"),
    subj_pred("sub", "pred").string_literal_with_lang("obj", "fr-FR"),
    bnode_pred("bsub", "pred").resource("obj"),
    bnode_pred("bsub", "pred").string_literal("obj"),
    subj_pred("sub", "pred").bnode("banon"),
    bnode_pred("bsub", "pred").bnode("bobj"),
    subj_pred("sub", "pred").object(Obj("lit", "2", "myinteger")),
]


@pytest.mark.parametrize("t", CORPUS, ids=lambda t: t.tkey()[:40])
def test_nt_roundtrip_py(t):
    line = encode_triple_py(t.as_row())
    rows = parse_nt_text(line)
    assert len(rows) == 1
    assert rows_to_keyset(rows) == {t.tkey()}


@pytest.mark.parametrize("t", CORPUS, ids=lambda t: t.tkey()[:40])
def test_binary_roundtrip_py(t):
    blob = encode_triple_bytes(t.as_row())
    rows = decode_binary_bytes(blob)
    assert len(rows) == 1
    assert rows_to_keyset(rows) == {t.tkey()}


def test_binary_multi_document():
    blob = b"".join(encode_triple_bytes(t.as_row()) for t in CORPUS)
    rows = decode_binary_bytes(blob)
    assert rows_to_keyset(rows) == {t.tkey() for t in CORPUS}


def test_spark_nt_roundtrip(spark, tmp_path):
    from triplestore_spark.sources.ntriples import read_ntriples, write_ntriples

    df = triples_to_df(spark, CORPUS)
    # multiline literals stay on one encoded line (escaped), so the
    # text sink roundtrips them
    out = str(tmp_path / "nt")
    write_ntriples(df, out)
    back = read_ntriples(spark, out)
    got = {r["tkey"] for r in back.select("tkey").collect()}
    assert got == {t.tkey() for t in CORPUS}


def test_spark_binary_roundtrip(spark, tmp_path):
    from triplestore_spark.sources.binary import (
        encode_binary_triples,
        read_binary,
    )

    df = triples_to_df(spark, CORPUS)
    blob = encode_binary_triples(df)
    out = tmp_path / "bin" / "doc.bin"
    out.parent.mkdir()
    out.write_bytes(blob)
    back = read_binary(spark, str(out.parent))
    got = {r["tkey"] for r in back.select("tkey").collect()}
    assert got == {t.tkey() for t in CORPUS}


def test_spark_auto_decode(spark, tmp_path):
    from triplestore_spark.sources.binary import (
        encode_binary_triples,
        read_auto,
    )
    from triplestore_spark.sources.ntriples import encode_triples

    df = triples_to_df(spark, CORPUS[:5])
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "doc.bin").write_bytes(encode_binary_triples(df))
    (d / "doc.nt").write_text(encode_triples(triples_to_df(spark, CORPUS[5:7])))
    back = read_auto(spark, str(d))
    got = {r["tkey"] for r in back.select("tkey").collect()}
    assert got == {t.tkey() for t in CORPUS[:7]}


# ---- W3C suite (reference ntparser_w3c_test.go:11-62) ----

_EOL_COMMENT = re.compile(r"(.*\.)\s+(#.*)")


def cleanup_nt(text: str) -> str:
    out = []
    for line in text.splitlines():
        if re.match(r"^\s*$", line) or re.match(r"^\s*#", line):
            continue
        out.append(_EOL_COMMENT.sub(r"\1", line))
    return "\n".join(out) + ("\n" if out else "")


@pytest.mark.parametrize(
    "path",
    sorted(glob.glob(os.path.join(FIXTURES, "w3c_suite", "positives", "*.nt"))),
    ids=os.path.basename,
)
def test_w3c_positives(path):
    text = open(path, encoding="utf-8").read()
    rows = parse_nt_text(text)
    reencoded = "".join(encode_triple_py(r) for r in rows)
    expected_path = path + ".expected"
    if os.path.exists(expected_path):
        expected = open(expected_path, encoding="utf-8").read()
    else:
        expected = cleanup_nt(text)
    assert cleanup_nt(reencoded) == expected


@pytest.mark.parametrize(
    "path",
    sorted(glob.glob(os.path.join(FIXTURES, "w3c_suite", "negatives", "*.nt"))),
    ids=os.path.basename,
)
def test_w3c_negatives(path):
    # .LENIENT-suffixed files are deliberately NOT here: the lenient
    # parser accepts them (reference ntparser_w3c_test.go:47-62 globs
    # only *.nt)
    text = open(path, encoding="utf-8").read()
    with pytest.raises(NTParseError):
        parse_nt_text(text)


def test_real_world_sample():
    text = open(os.path.join(FIXTURES, "sample.nt"), encoding="utf-8").read()
    rows = parse_nt_text(text)
    assert len(rows) == 44  # sample.nt holds 44 triples
    reencoded = "".join(encode_triple_py(r) for r in rows)
    assert cleanup_nt(reencoded) == cleanup_nt(text)


def test_permissive_mode_skips_corrupt_lines(spark, tmp_path):
    from triplestore_spark.sources.ntriples import read_ntriples

    p = tmp_path / "mixed.nt"
    p.write_text(
        "<s1> <p> <o> .\n"
        "this line is garbage\n"
        '<s2> <p> "v" .\n'
        "<s3> <p> 123 .\n"  # bare-number object: rejected grammar
    )
    out = read_ntriples(spark, str(p), mode="PERMISSIVE")
    subs = sorted(r["subject"] for r in out.select("subject").collect())
    assert subs == ["s1", "s2"]


def test_failfast_error_names_the_line_and_file(spark, tmp_path):
    """Reference DatasetDecoder wraps errors with the source file
    (decode.go:258-279) — at 10^6 files the name IS the triage."""
    from triplestore_spark.sources.ntriples import read_ntriples

    p = tmp_path / "bad_input_file.nt"
    p.write_text("<s1> <p> <o> .\n<s3> <p> 123broken .\n")
    with pytest.raises(Exception) as exc:
        read_ntriples(spark, str(p)).collect()
    assert "123broken" in str(exc.value)
    assert "bad_input_file.nt" in str(exc.value)


def test_read_ntriples_splits_lines_like_the_reference(spark, tmp_path):
    """Lines end at '\\n' only, with one trailing '\\r' dropped
    (bufio.ScanLines): a bare '\\r' inside a literal is content, not a
    line break."""
    from triplestore_spark.sources.ntriples import read_ntriples

    data = b'<s> <p> "a\rb" .\n<s2> <p> <o> .\r\n'
    p = tmp_path / "cr.nt"
    p.write_bytes(data)
    got = sorted(
        tuple(r) for r in read_ntriples(spark, str(p)).select(*TRIPLE_FIELDS).collect()
    )
    assert got == sorted(parse_nt_text(data.decode("utf-8")))
    assert len(got) == 2


def test_quarantine_keeps_rejects_with_provenance(spark, tmp_path):
    from pyspark.sql import functions as F
    from triplestore_spark.sources.ntriples import decode_lines_quarantine

    p = tmp_path / "mixed_q.nt"
    p.write_text(
        "<s1> <p> <o> .\n"
        "this line is garbage\n"
        '<s2> <p> "v" .\n'
        "<s3> <p> 123 .\n"
    )
    text = spark.read.text(str(p)).select(
        "value", F.input_file_name().alias("_src")
    )
    good, bad = decode_lines_quarantine(text, file_col="_src")
    subs = sorted(r["subject"] for r in good.select("subject").collect())
    assert subs == ["s1", "s2"]
    rejects = bad.collect()
    assert len(rejects) == 2
    lines = {r["line"] for r in rejects}
    assert "this line is garbage" in lines
    assert "<s3> <p> 123 ." in lines
    for r in rejects:
        assert "mixed_q.nt" in r["source_file"]
        assert r["error"]


def test_binary_split_reader_parallelizes_one_file(spark, tmp_path):
    """Record-boundary splitting (VERDICT r2 #4): ONE .bin file read at
    a small split size must decode across >1 task and produce exactly
    the per-file cursor decode's triples."""
    from pyspark.sql import functions as F

    from triplestore_spark.sources.binary import (
        encode_binary_triples,
        read_binary,
        read_binary_split,
    )

    df = triples_to_df(spark, CORPUS)
    blob = encode_binary_triples(df)
    out = tmp_path / "bin" / "doc.bin"
    out.parent.mkdir()
    out.write_bytes(blob)

    split = read_binary_split(spark, str(out), split_size=256)
    n_tasks = (
        split.select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert n_tasks > 1, f"file of {len(blob)} bytes decoded in one task"

    got = sorted(tuple(r) for r in split.collect())
    want = sorted(tuple(r) for r in read_binary(spark, str(out.parent)).collect())
    assert got == want


def test_binary_split_reader_dir_and_unsplit(spark, tmp_path):
    """Directory input + a split size larger than the file (degenerate
    single range) both behave like read_binary."""
    from triplestore_spark.sources.binary import (
        encode_binary_triples,
        read_binary,
        read_binary_split,
    )

    df = triples_to_df(spark, CORPUS)
    d = tmp_path / "bin"
    d.mkdir()
    (d / "a.bin").write_bytes(encode_binary_triples(df))
    (d / "b.bin").write_bytes(encode_binary_triples(df))

    got = sorted(tuple(r) for r in read_binary_split(spark, str(d)).collect())
    want = sorted(tuple(r) for r in read_binary(spark, str(d)).collect())
    assert got == want


def test_binary_split_resync_lands_on_true_boundaries(tmp_path):
    """The chained-validation resync must find the exact record start
    from ANY offset inside the first record (no off-by-N boundary)."""
    from triplestore_spark.sources.binary import (
        _FileWindow,
        _find_boundary,
        encode_triple_bytes,
    )

    recs = [
        encode_triple_bytes((f"subj{i}", False, "pred", "lit",
                             f"value {i}", "xsd:string", ""))
        for i in range(6)
    ]
    blob = b"".join(recs)
    p = tmp_path / "r.bin"
    p.write_bytes(blob)
    bounds = []
    off = 0
    for r in recs:
        bounds.append(off)
        off += len(r)

    with open(p, "rb") as f:
        w = _FileWindow(f, len(blob))
        for start in range(1, len(recs[0]) + 1):
            found = _find_boundary(w, start, len(blob), len(blob), 4)
            assert found == bounds[1], (start, found)


@pytest.mark.parametrize(
    "path",
    sorted(glob.glob(os.path.join(FIXTURES, "w3c_suite", "positives", "*.nt"))),
    ids=os.path.basename,
)
def test_w3c_positives_batch_path(path):
    """The Arrow/RE2 batch parser must produce exactly the state
    machine's rows on every W3C positive fixture (the executor hot
    path sees real-world grammar, not just encoder output)."""
    text = open(path, encoding="utf-8").read()
    lines = [ln.rstrip("\r") for ln in text.split("\n")]
    slow = []
    for ln in lines:
        row = parse_nt_line(ln)
        if row is not None:
            slow.append(row)
    assert arrow_parse_rows(lines) == sorted(slow)


def test_binary_split_coverage_verification(spark, tmp_path):
    """verify_binary_coverage must pass on a healthy file and raise on
    trailing garbage that no range can attribute to a record (the one
    corruption mode the plain split decode cannot surface locally)."""
    from triplestore_spark.sources.binary import (
        BinaryDecodeError,
        encode_binary_triples,
        verify_binary_coverage,
    )

    df = triples_to_df(spark, CORPUS)
    blob = encode_binary_triples(df)
    clean = tmp_path / "clean.bin"
    clean.write_bytes(blob)
    verify_binary_coverage(spark, str(clean), split_size=512)

    bad = tmp_path / "bad.bin"
    bad.write_bytes(blob + b"\xff\xfe\xfd" * 40)
    with pytest.raises(BinaryDecodeError):
        verify_binary_coverage(spark, str(bad), split_size=512)


def test_binary_split_lenient_bool_parity(spark, tmp_path):
    """Parse mode must match decode_binary_bytes' (and the reference's,
    decode.go:152 binary.Read-into-bool) lenient nonzero-is-true bool —
    a whole-file split read of a record with bool byte 7 decodes
    identically to read_binary."""
    from triplestore_spark.sources.binary import (
        encode_triple_bytes,
        read_binary,
        read_binary_split,
    )

    rec = bytearray(
        encode_triple_bytes(("s", True, "p", "res", "o", "", ""))
    )
    assert rec[0] == 1
    rec[0] = 7  # hand-crafted lenient bool
    d = tmp_path / "b"
    d.mkdir()
    (d / "x.bin").write_bytes(bytes(rec))
    got = [tuple(r) for r in read_binary_split(spark, str(d)).collect()]
    want = [tuple(r) for r in read_binary(spark, str(d)).collect()]
    assert got == want and got[0][1] is True


def test_binary_split_lenient_bool_at_range_boundary(spark, tmp_path):
    """Regression (review round 2): a lenient-bool record sitting in a
    resync validation chain must not be silently dropped — boundary
    validation now accepts exactly what the whole-file reader accepts.
    Split sizes are swept so ranges start at every alignment around
    the lenient record."""
    from triplestore_spark.sources.binary import (
        encode_triple_bytes,
        read_binary,
        read_binary_split,
        verify_binary_coverage,
    )

    recs = []
    for i in range(10):
        rec = bytearray(
            encode_triple_bytes(
                (f"subject{i}", False, "pred", "lit", f"val {i}",
                 "xsd:string", "")
            )
        )
        if i == 4:
            rec[0] = 7  # lenient bool mid-file
        recs.append(bytes(rec))
    d = tmp_path / "b"
    d.mkdir()
    (d / "x.bin").write_bytes(b"".join(recs))

    want = sorted(tuple(r) for r in read_binary(spark, str(d)).collect())
    assert len(want) == 10
    for split in (40, 64, 100, 150):
        got = sorted(
            tuple(r)
            for r in read_binary_split(spark, str(d), split_size=split).collect()
        )
        assert got == want, f"split_size={split} lost records"
    verify_binary_coverage(spark, str(d), split_size=64)


def test_binary_split_false_resync_falls_back_exact(spark, tmp_path):
    """Fuzz-found case: ASCII-heavy tiny records let a misaligned
    parse bridge into the true chain and pass chained validation (no
    sync marker exists to prevent it). The coverage pre-check must
    detect the overlap and read_binary_split must fall back to the
    exact sequential decode — identical output to read_binary."""
    import random

    from triplestore_spark.sources.binary import (
        BinaryDecodeError,
        encode_triple_bytes,
        read_binary,
        read_binary_split,
        verify_binary_coverage,
    )

    rng = random.Random(11)
    blob = b""
    # regenerate fuzz trial 17 (seed 11): 17 corpora drawn first
    for trial in range(18):
        recs = []
        for i in range(rng.randint(1, 40)):
            kind = rng.choice(["res", "lit", "bnode"])
            val = "".join(
                rng.choice('ab .#<>"\n\r xyz')
                for _ in range(rng.randint(0, 30))
            )
            typ = "xsd:string" if kind == "lit" else ""
            recs.append(
                encode_triple_bytes(
                    (f"s{i}", rng.random() < 0.5, "p", kind, val, typ, "")
                )
            )
        blob = b"".join(recs)
        rng.randint(8, max(9, len(blob) // 3))
    d = tmp_path / "adv"
    d.mkdir()
    (d / "f.bin").write_bytes(blob)

    # the resync chain really is inconsistent on this file at split 27
    with pytest.raises(BinaryDecodeError):
        verify_binary_coverage(spark, str(d), split_size=27)

    got = sorted(
        tuple(r)
        for r in read_binary_split(spark, str(d), split_size=27).collect()
    )
    want = sorted(tuple(r) for r in read_binary(spark, str(d)).collect())
    assert got == want


def test_split_coverage_verification_amortized(spark, tmp_path, monkeypatch):
    """VERDICT r3 #2: the coverage proof must run ONCE per immutable
    file — a second read of the same path triggers zero extra scan
    (asserted by counting scan_ranges invocations, the only source of
    verification IO), a new file scans only itself, and a content or
    split-parameter change re-proves."""
    import json as _json

    import triplestore_spark.sources.binary as B
    from triplestore_spark.dsl import subj_pred, triples_to_df

    df = triples_to_df(
        spark, [subj_pred(f"s{i}", "p").integer_literal(i) for i in range(30)]
    )
    d = tmp_path / "bin"
    d.mkdir()
    (d / "a.bin").write_bytes(B.encode_binary_triples(df))

    calls = []
    real = B.scan_ranges

    def counting(*a, **k):
        calls.append(k.get("files"))
        return real(*a, **k)

    monkeypatch.setattr(B, "scan_ranges", counting)

    n1 = B.read_binary_split(spark, str(d), split_size=256).count()
    assert len(calls) == 1
    manifest = d / "_split_coverage.json"
    assert manifest.exists()

    # immutable re-read: NO verification scan at all
    n2 = B.read_binary_split(spark, str(d), split_size=256).count()
    assert len(calls) == 1
    assert n1 == n2 == 30

    # a new file is proven alone — the old file is not re-scanned
    (d / "b.bin").write_bytes(B.encode_binary_triples(df))
    n3 = B.read_binary_split(spark, str(d), split_size=256).count()
    assert len(calls) == 2
    assert [p.rsplit("/", 1)[-1] for (p, _l, _m) in calls[1]] == ["b.bin"]
    assert n3 == 60

    # different split decomposition -> the proof is parameter-specific
    B.read_binary_split(spark, str(d), split_size=128).count()
    assert len(calls) == 3
    assert len(calls[2]) == 2

    # touched mtime -> that file re-proves
    import os as _os

    _os.utime(d / "a.bin", None)
    B.read_binary_split(spark, str(d), split_size=128).count()
    assert len(calls) == 4
    assert [p.rsplit("/", 1)[-1] for (p, _l, _m) in calls[3]] == ["a.bin"]

    # corrupt manifest: re-verifies instead of trusting garbage
    manifest.write_text("{not json")
    B.read_binary_split(spark, str(d), split_size=128).count()
    assert len(calls) == 5
    doc = _json.loads(manifest.read_text())
    assert len(doc) == 2 and all(v["key"].startswith("s128.") for v in doc.values())


def test_split_coverage_manifest_not_read_as_data(spark, tmp_path):
    """The manifest sits inside the data directory — both the split
    reader and the whole-file reader must skip it."""
    import triplestore_spark.sources.binary as B
    from triplestore_spark.dsl import subj_pred, triples_to_df

    df = triples_to_df(
        spark, [subj_pred(f"s{i}", "p").integer_literal(i) for i in range(10)]
    )
    d = tmp_path / "bin"
    d.mkdir()
    (d / "a.bin").write_bytes(B.encode_binary_triples(df))
    n1 = B.read_binary_split(spark, str(d), split_size=256).count()
    assert (d / "_split_coverage.json").exists()
    assert B.read_binary_split(spark, str(d), split_size=256).count() == n1
    assert B.read_binary(spark, str(d)).count() == n1


def test_context_encode_expr_matches_python_golden(spark):
    """VERDICT r3 #4: the context NT encoder is now a pure Catalyst
    expression — it must agree byte-for-byte with encode_triple_py
    (the per-row golden reference for encode.go:193-246) across the
    QueryEscape edge set: '~' kept, '*' -> %2A, space -> '+', unicode
    multibyte, prefix expansion order, base prepend, the missing-xsd
    omitted-object quirk, and bnode subjects/objects."""
    from triplestore_spark import schema as S
    from triplestore_spark.sources.ntriples import (
        encode_df,
        encode_triple_py,
    )

    rows = [
        ("one", False, "rdf:type", "res", "onetype", "", ""),
        ("one", False, "prop1", "lit", "two", "xsd:string", ""),
        ("sp ace", False, "pr~op*", "res", "va/lue?", "", ""),
        ("uni", False, "p", "lit", "héllo", "xsd:string", ""),
        ("b1", True, "p", "bnode", "b2", "", ""),
        ("one", False, "p", "lit", "42", "xsd:integer", ""),
        ("one", False, "p", "lit", "bonjour", "xsd:string", "fr"),
        ("one", False, "p", "lit", "li\nne\r", "xsd:string", ""),
        ("http://already.test/x", False, "http://p.test/q", "res",
         "http://o.test/z", "", ""),
    ]
    contexts = [
        {"prefixes": {"rdf": "http://rdf.test/ns#",
                      "pr": "http://pr.test/"}},
        {"prefixes": {"xsd": "http://www.w3.org/2001/XMLSchema#"},
         "base": "http://base.test#"},
        {"base": "http://base.test#"},
        {"prefixes": {}},
    ]
    df = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    for ctx in contexts:
        got = sorted(
            r["value"] for r in encode_df(df, ctx=ctx).collect()
        )
        want = sorted(encode_triple_py(r, ctx)[:-1] for r in rows)
        assert got == want, ctx


def test_context_encode_plan_has_no_python(spark):
    """The context encode plan must be whole-stage codegen with no
    mapInPandas / Python eval node."""
    from triplestore_spark import schema as S
    from triplestore_spark.sources.ntriples import encode_df

    df = spark.createDataFrame(
        [("s", False, "p", "lit", "v", "xsd:string", "")], S.TRIPLE_SCHEMA
    )
    ctx = {"prefixes": {"xsd": "http://www.w3.org/2001/XMLSchema#"},
           "base": "http://b#"}
    plan = (
        encode_df(df, ctx=ctx)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "InPandas" not in plan, plan


def test_context_encode_expr_randomized_differential(spark):
    """Seeded randomized differential for the Catalyst context encoder:
    200 random triples (ASCII punctuation, unicode, URL-escape edge
    chars, random kinds/langs/types) through nt_encode_context_expr
    must equal encode_triple_py byte for byte under prefix+base
    contexts — one Spark job per context, not per example."""
    import random

    from triplestore_spark import schema as S
    from triplestore_spark.sources.ntriples import (
        encode_df,
        encode_triple_py,
    )

    rng = random.Random(1234)
    alphabet = (
        "abcXYZ019 ~*+%/?#<>\\\"'.,:;@^_-()[]{}|&=!\t"
        "éü中日é☃"
    )

    def rs(lo=0, hi=18):
        return "".join(
            rng.choice(alphabet) for _ in range(rng.randint(lo, hi))
        )

    rows = []
    for i in range(200):
        kind = rng.choice(["res", "lit", "bnode"])
        lang = rng.choice(["", "", "", "fr", "en-GB"]) if kind == "lit" else ""
        typ = (
            rng.choice(["xsd:string", "xsd:integer", "my:custom", "bare"])
            if kind == "lit" and not lang
            else ("xsd:string" if lang else "")
        )
        # subjects/predicates exercise prefix hits and misses
        subj = rng.choice(["pfx:", "p2:", "http://x/", ""]) + rs(1, 12)
        pred = rng.choice(["pfx:", "rdf:", ""]) + rs(1, 10)
        val = rs(0, 20) if kind == "lit" else rng.choice(["pfx:", ""]) + rs(1, 12)
        rows.append((subj, rng.random() < 0.3, pred, kind, val, typ, lang))

    contexts = [
        {"prefixes": {"pfx": "http://pfx.test/", "rdf": "http://r.test#",
                      "xsd": "http://www.w3.org/2001/XMLSchema#"}},
        {"prefixes": {"pfx": "http://pfx.test/"}, "base": "http://base#"},
        {"base": "http://base#"},
    ]
    df = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    for ctx in contexts:
        got = sorted(r["value"] for r in encode_df(df, ctx=ctx).collect())
        want = sorted(encode_triple_py(r, ctx)[:-1] for r in rows)
        assert got == want, ctx


def test_context_encode_many_prefixes_linear_plan(spark):
    """The prefix fold is a runtime F.aggregate, so a 200-prefix
    context must plan instantly (the unrolled when-chain formulation
    grew 3^n and OOMed the driver at ~64 prefixes), stay free of
    Python nodes, and match the golden encoder — including a
    CASCADING expansion (one prefix's expansion starts with another
    prefix key, which the sequential fold must re-match)."""
    from triplestore_spark import schema as S
    from triplestore_spark.sources.ntriples import encode_df, encode_triple_py

    rows = [
        ("p0:alpha", False, "p1:beta", "res", "p199:gamma", "", ""),
        ("plain", False, "p", "lit", "v", "xsd:string", ""),
        # 'a:' expands to something starting with 'b:' -> 'b' (sorted
        # later) must apply to the EXPANDED value, like build_iri does
        ("a:x y", False, "p5:q", "res", "b:direct", "", ""),
    ]
    df = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    ctx = {
        "prefixes": {
            **{f"p{i}": f"http://ns{i}.test/" for i in range(200)},
            "a": "b:",
            "b": "http://b.test/",
        }
    }
    out = encode_df(df, ctx=ctx)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "Python" not in plan, plan
    got = sorted(r["value"] for r in out.collect())
    want = sorted(encode_triple_py(r, ctx)[:-1] for r in rows)
    assert got == want


def test_context_encode_dispatch_boundary(spark):
    """Both sides of CONTEXT_UNROLL_MAX_PREFIXES (codegen'd unrolled
    chain vs runtime aggregate fold) must match the golden encoder on
    the same rows."""
    from triplestore_spark import schema as S
    from triplestore_spark.sources.ntriples import (
        CONTEXT_UNROLL_MAX_PREFIXES as CAP,
        encode_df,
        encode_triple_py,
    )

    rows = [
        ("p0:x y", False, "p1:q", "res", f"p{CAP - 1}:v", "", ""),
        ("plain", False, "p", "lit", "v~*", "xsd:string", ""),
    ]
    df = spark.createDataFrame(rows, S.TRIPLE_SCHEMA)
    for n in (CAP, CAP + 1):
        ctx = {"prefixes": {f"p{i}": f"http://n{i}/" for i in range(n)}}
        got = sorted(r["value"] for r in encode_df(df, ctx=ctx).collect())
        want = sorted(encode_triple_py(r, ctx)[:-1] for r in rows)
        assert got == want, n


def test_split_coverage_manifest_merge_on_write(spark, tmp_path):
    """VERDICT r4 #7: two concurrent readers verifying DISJOINT new
    files must not drop each other's manifest entries — save merges
    with the on-disk doc, newer mtime winning per-path conflicts."""
    import json as _json

    import triplestore_spark.sources.binary as B

    loc = str(tmp_path / "_split_coverage.json")
    # writer A lands first
    B._save_coverage_manifest(
        spark, loc, {"/d/a.bin": {"len": 10, "mtime": 100, "key": "s1.v4.w1"}}
    )
    # writer B loaded BEFORE A saved (its doc lacks a.bin) — the union
    # must still keep A's entry
    B._save_coverage_manifest(
        spark, loc, {"/d/b.bin": {"len": 20, "mtime": 200, "key": "s1.v4.w1"}}
    )
    doc = _json.loads((tmp_path / "_split_coverage.json").read_text())
    assert set(doc) == {"/d/a.bin", "/d/b.bin"}

    # per-path conflict: an entry with OLDER mtime must not clobber a
    # newer on-disk record; a newer one must
    B._save_coverage_manifest(
        spark, loc, {"/d/b.bin": {"len": 20, "mtime": 150, "key": "stale"}}
    )
    doc = _json.loads((tmp_path / "_split_coverage.json").read_text())
    assert doc["/d/b.bin"]["mtime"] == 200
    B._save_coverage_manifest(
        spark, loc, {"/d/b.bin": {"len": 21, "mtime": 300, "key": "fresh"}}
    )
    doc = _json.loads((tmp_path / "_split_coverage.json").read_text())
    assert doc["/d/b.bin"] == {"len": 21, "mtime": 300, "key": "fresh"}


def test_split_coverage_always_ignores_manifest(spark, tmp_path, monkeypatch):
    """ADVICE r4: verify_coverage='always' must run the proof on every
    read — the manifest is neither read nor trusted (untrusted-store
    mode) — and an unknown mode fails loudly."""
    import pytest as _pytest

    import triplestore_spark.sources.binary as B
    from triplestore_spark.dsl import subj_pred, triples_to_df

    df = triples_to_df(
        spark, [subj_pred(f"s{i}", "p").integer_literal(i) for i in range(20)]
    )
    d = tmp_path / "bin"
    d.mkdir()
    (d / "a.bin").write_bytes(B.encode_binary_triples(df))

    calls = []
    real = B.scan_ranges

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(B, "scan_ranges", counting)

    n1 = B.read_binary_split(spark, str(d), split_size=256).count()
    assert len(calls) == 1 and (d / "_split_coverage.json").exists()
    # amortized mode trusts the manifest...
    B.read_binary_split(spark, str(d), split_size=256).count()
    assert len(calls) == 1
    # ...'always' re-proves despite a fully-covering manifest
    n2 = B.read_binary_split(
        spark, str(d), split_size=256, verify_coverage="always"
    ).count()
    assert len(calls) == 2
    assert n1 == n2 == 20

    with _pytest.raises(ValueError, match="verify_coverage"):
        B.read_binary_split(spark, str(d), verify_coverage="sometimes")
