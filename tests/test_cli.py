"""CLI converter (reference cmd/triplestore/main.go analog).

Exercises the in-process main() (a subprocess would pay a second
40-second Spark cold start per case; the conversion logic is
identical either way)."""

import io
import sys

import pytest

from triplestore_spark.cli import build_context, main


class _Args:
    def __init__(self, **kw):
        self.prefix = kw.get("prefix")
        self.base = kw.get("base", "")
        self.rdf_prefixes = kw.get("rdf_prefixes", False)


def test_build_context_none_without_flags():
    assert build_context(_Args()) is None


def test_build_context_rdf_prefixes():
    ctx = build_context(_Args(rdf_prefixes=True))
    assert ctx["prefixes"]["xsd"] == "http://www.w3.org/2001/XMLSchema#"
    assert "rdf" in ctx["prefixes"] and "rdfs" in ctx["prefixes"]


def test_build_context_custom_prefix_and_base():
    ctx = build_context(
        _Args(prefix=["cloud:http://awless.io/rdf/cloud#"], base="http://x#")
    )
    assert ctx["prefixes"]["cloud"] == "http://awless.io/rdf/cloud#"
    assert ctx["base"] == "http://x#"


@pytest.fixture()
def nt_file(tmp_path, spark):
    from triplestore_spark.dsl import subj_pred, triples_to_df
    from triplestore_spark.sources.ntriples import encode_triples

    p = tmp_path / "in.nt"
    p.write_text(
        encode_triples(
            triples_to_df(
                spark,
                [
                    subj_pred("s", "p").resource("o"),
                    subj_pred("s", "p").integer_literal(7),
                ],
            )
        )
    )
    return p


def test_cli_nt_to_bin_to_nt(nt_file, tmp_path, capsys, spark):
    main(["-in", "ntriples", "-out", "bin", "-files", str(nt_file),
          "-o", str(tmp_path / "bin")])
    binfile = tmp_path / "bin" / "triples.bin"
    assert binfile.exists() and binfile.stat().st_size > 0

    main(["-in", "bin", "-out", "ntriples", "-files", str(binfile)])
    out = capsys.readouterr().out
    assert "<s> <p> <o> ." in out
    assert '<s> <p> "7"^^<xsd:integer> .' in out


def test_cli_dot_requires_predicate(nt_file):
    with pytest.raises(SystemExit):
        main(["-in", "ntriples", "-out", "dot", "-files", str(nt_file)])


def test_cli_dot_output(nt_file, capsys):
    main(["-in", "ntriples", "-out", "dot", "-files", str(nt_file),
          "-predicate", "p"])
    out = capsys.readouterr().out
    assert out.startswith('digraph "p" {')
    assert '"s" -> "o";' in out


def test_cli_auto_detect(nt_file, tmp_path, capsys):
    main(["-in", "auto", "-out", "ntriples", "-files", str(nt_file)])
    out = capsys.readouterr().out
    assert "<s> <p> <o> ." in out
