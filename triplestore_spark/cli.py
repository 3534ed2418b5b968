"""CLI converter (reference cmd/triplestore/main.go:23-110).

    python -m triplestore_spark.cli -in ntriples -out bin \\
        -files a.nt,b.nt [-prefix k:uri ...] [-base uri] \\
        [-rdf-prefixes] [-predicate p] [-o outdir]

Decode-all -> encode-all, to stdout (like the reference) or to a
distributed sink directory with -o.
"""

from __future__ import annotations

import argparse
import sys


RDF_PREFIXES = {
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
}


def build_context(args) -> dict | None:
    """reference main.go:47-63"""
    prefixes = dict(RDF_PREFIXES) if args.rdf_prefixes else {}
    for p in args.prefix or []:
        if ":" not in p:
            raise SystemExit(f"invalid prefix {p!r}, expected k:uri")
        k, uri = p.split(":", 1)
        prefixes[k] = uri
    if not prefixes and not args.base:
        return None
    return {"base": args.base or "", "prefixes": prefixes}


def main(argv=None):
    ap = argparse.ArgumentParser(prog="triplestore")
    ap.add_argument("-in", dest="informat", default="ntriples",
                    choices=["ntriples", "bin", "auto"])
    ap.add_argument("-out", dest="outformat", default="ntriples",
                    choices=["ntriples", "bin", "dot"])
    ap.add_argument("-files", required=True,
                    help="comma-separated paths or globs")
    ap.add_argument("-prefix", action="append",
                    help="k:uri prefix mapping (repeatable)")
    ap.add_argument("-base", default="")
    ap.add_argument("-rdf-prefixes", dest="rdf_prefixes",
                    action="store_true",
                    help="include xsd/rdf/rdfs prefixes")
    ap.add_argument("-predicate", default="",
                    help="edge predicate for -out dot")
    ap.add_argument("-o", dest="outdir", default="",
                    help="write a distributed sink dir instead of stdout")
    ap.add_argument("-cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from triplestore_spark.session import get_spark

    spark = get_spark("triplestore-cli", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from triplestore_spark.sources.binary import read_auto, read_binary
    from triplestore_spark.sources.ntriples import read_ntriples

    readers = {
        "ntriples": read_ntriples,
        "bin": read_binary,
        "auto": read_auto,
    }
    paths = args.files.split(",")
    df = readers[args.informat](spark, paths)

    ctx = build_context(args)
    if args.outformat == "ntriples":
        from triplestore_spark.sources.ntriples import (
            encode_triples,
            write_ntriples,
        )

        if args.outdir:
            write_ntriples(df, args.outdir, ctx)
        else:
            sys.stdout.write(encode_triples(df, ctx))
    elif args.outformat == "bin":
        from triplestore_spark.sources.binary import encode_binary_triples

        blob = encode_binary_triples(df)
        if args.outdir:
            import os

            os.makedirs(args.outdir, exist_ok=True)
            with open(f"{args.outdir}/triples.bin", "wb") as f:
                f.write(blob)
        else:
            sys.stdout.buffer.write(blob)
    else:  # dot
        if not args.predicate:
            raise SystemExit("-out dot requires -predicate")
        from triplestore_spark.operators.dot import encode_dot
        from triplestore_spark.operators.graph import RDFGraph, dedup_triples

        out = encode_dot(RDFGraph(dedup_triples(df)), args.predicate)
        if args.outdir:
            import os

            os.makedirs(args.outdir, exist_ok=True)
            with open(f"{args.outdir}/graph.dot", "w") as f:
                f.write(out)
        else:
            sys.stdout.write(out)


if __name__ == "__main__":
    main()
