"""Seeded benchmark inputs and their expected answers.

Everything here is a function of the seed alone. The expected answers
come from the pure-Python extraction oracle and from DuckDB SQL, never
from the Spark code the benchmark times.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from triplestore_spark.pipeline import spec
from triplestore_spark.pipeline.oracle import oracle_corpus_triples

STOPWORDS = ("a", "the", "big", "small", "fast", "slow")
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (40, 15, 15, 15, 15)
N_SOURCES = 20

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def base_documents(n: int, seed: int) -> list[dict]:
    """`n` documents of 5..95 words drawn from the gazetteer surfaces
    and a few stopwords, so every canonical entity is a hub that most
    documents mention."""
    rng = random.Random(seed)
    vocab = sorted(spec.GAZETTEER) + list(STOPWORDS)
    rows = []
    for i in range(n):
        words = rng.choices(vocab, k=rng.randint(5, 95))
        text = " ".join(words)
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
                "source": f"src{rng.randrange(N_SOURCES)}",
                "n_chars": len(text),
            }
        )
    return rows


def write_documents(path: str, base: list[dict], replicas: int) -> int:
    """Write `replicas` copies of `base` with disjoint doc_id ranges as
    one parquet file with one row group, the shape of the shipped
    corpus. Returns the number of documents written."""
    n = len(base)
    # media spans depend on doc_id mod MEDIA_EVERY: an offset that is a
    # multiple of it gives every replica the same per-document triples
    if n % spec.MEDIA_EVERY:
        raise ValueError(f"base size {n} is not a multiple of {spec.MEDIA_EVERY}")
    cols = {f: [] for f in DOC_SCHEMA.names}
    for r in range(replicas):
        for row in base:
            for f in DOC_SCHEMA.names:
                cols[f].append(row[f] + r * n if f == "doc_id" else row[f])
    table = pa.Table.from_pydict(cols, schema=DOC_SCHEMA)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=table.num_rows)
    return table.num_rows


def expected_canonical_count(base: list[dict], replicas: int) -> int:
    """Canonical triples of the replicated corpus: the oracle's count on
    one copy times the number of copies (doc ids never collide)."""
    return replicas * len(oracle_corpus_triples(base))


def duckdb_canonical(con, docs_path: str) -> None:
    """Create table `canon` in DuckDB: the canonical triple set of the
    documents at `docs_path`, from the registry's SQL oracle."""
    from triplestore_spark.queries import PIPELINE_TRIPLES_SQL

    con.execute(
        f"CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM read_parquet('{docs_path}')"
    )
    con.execute(
        "CREATE OR REPLACE TABLE canon AS "
        + PIPELINE_TRIPLES_SQL
        + " SELECT DISTINCT subject, predicate, object_kind, object_value,"
        " object_type, object_lang FROM pipeline_triples"
    )


# ---------------------------------------------------------------------------
# supply graph for the closure of the query workload
# ---------------------------------------------------------------------------


def tpch_suppkey(partkey: int, i: int, n_supps: int) -> int:
    """The i-th (0..3) supplier of a part, TPC-H 4.2.3's PS_SUPPKEY."""
    return (partkey + i * (n_supps // 4 + (partkey - 1) // n_supps)) % n_supps + 1


def write_supply_tables(
    dir_: str, n_parts: int, n_supps: int, n_lineitems: int, seed: int
) -> None:
    """The five tables `path_supply_closure` reads, at TPC-H's sizes and
    key rules: each lineitem draws L_PARTKEY uniformly and its supplier
    uniformly among the part's four PS_SUPPKEY suppliers, as dbgen does.
    At sf0.01 (2,000 parts, 100 suppliers, 60,000 lineitems) the seed
    changes which lineitems repeat an edge, not the graph's shape: on
    seeds 0..199 the co-supply closure from `part:1` takes four levels
    and reaches all 2,100 parts and suppliers."""
    rng = random.Random(seed)
    lp = [rng.randint(1, n_parts) for _ in range(n_lineitems)]
    ls = [tpch_suppkey(p, rng.randrange(4), n_supps) for p in lp]
    os.makedirs(dir_, exist_ok=True)
    tables = {
        "lineitem": {"l_partkey": (lp, pa.int64()), "l_suppkey": (ls, pa.int64())},
        "part": {
            "p_partkey": (list(range(1, n_parts + 1)), pa.int64()),
            "p_name": ([f"part {i}" for i in range(1, n_parts + 1)], pa.string()),
        },
        "supplier": {
            "s_suppkey": (list(range(1, n_supps + 1)), pa.int64()),
            "s_name": ([f"Supplier#{i:09d}" for i in range(1, n_supps + 1)], pa.string()),
            "s_nationkey": ([i % 25 for i in range(1, n_supps + 1)], pa.int32()),
        },
        "nation": {
            "n_nationkey": (list(range(25)), pa.int32()),
            "n_name": ([f"NATION{i}" for i in range(25)], pa.string()),
            "n_regionkey": ([i % 5 for i in range(25)], pa.int32()),
        },
        "region": {
            "r_regionkey": (list(range(5)), pa.int32()),
            "r_name": ([f"REGION{i}" for i in range(5)], pa.string()),
        },
    }
    for name, cols in tables.items():
        t = pa.table({c: pa.array(v, type=typ) for c, (v, typ) in cols.items()})
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))


def duckdb_closure_rows(con, dir_: str) -> list[tuple]:
    """The registry's DuckDB oracle for `path_supply_closure`, sorted."""
    from triplestore_spark.queries import registry

    for name in ("lineitem", "part", "supplier", "nation", "region"):
        path = os.path.join(dir_, f"{name}.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    sql = registry()["path_supply_closure"][1]
    return sorted(tuple(r) for r in con.execute(sql).fetchall())
