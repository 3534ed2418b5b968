"""The two workloads. Each is one client in a closed loop: the next
operation starts only after the previous one returned, as a batch job
or an interactive caller waits for its answer.

- build: documents -> canonical triples -> SPO/POS/OSP layouts, then
  an N-Triples export of the new snapshot decoded back and checked
  against its manifest fingerprint (the write side and the NT codec).
- query: the read side. The `path_supply_closure` registry query, a
  property-path fixpoint whose latency is set by per-level Spark jobs,
  then five lookups of each of the six MaterializedGraph kinds with
  hub-skewed and absent keys against a snapshot of the same documents.
  The lookups take about as long as the closure, so a slower scan
  moves the operation time as much as a slower closure does.

Which per-layer metrics should move `op_p50_ms` on which workload:
corpus.*, extract.*, dedup.*, materialize.* and ntriples.* on build
only; bgp.* and scan.* on query only (query reads a snapshot written
once in its first set-up, so a change of layout shape moves its lookups
without any build work being timed there).

A workload makes its inputs and expected answers from the seed
(`inputs`, timed apart), prepares the program on a live session
(`setup`, run on each new session and timed as the set-up time), warms
the measured session with one untimed operation (`warm`), and runs
one checked operation per `op` call. `op`
returns (rows, ok, parts): the rows the operation produced, whether
they matched the expected answer, and any sub-timings in seconds."""

from __future__ import annotations

import os
import random
import time
from contextlib import nullcontext

from perfbench import inputs

# corpus: BASE_DOCS documents replicated REPLICAS times, ~150k canonical
# triples
BASE_DOCS = 1250
REPLICAS = 5
# supply graph for the closure: TPC-H sf0.01's parts, suppliers and
# lineitems
SUPPLY = dict(n_parts=2000, n_supps=100, n_lineitems=60000)
# lookups per operation, PERIOD of each kind. They take about as long as
# the closure. The key classes (hub, source, absent) repeat every PERIOD
# draws of a kind, so every operation gets the same blend of them.
PERIOD = 5
LOOKUPS_PER_OP = 6 * PERIOD
LOOKUP_MIX = 5 * LOOKUPS_PER_OP
KINDS = (
    "with_subject",
    "with_subj_pred",
    "with_subj_obj",
    "with_predicate",
    "with_pred_obj",
    "with_object",
)
PREDICATES = (
    "kg:mentions",
    "kg:hasMedia",
    "kg:source",
    "kg:title",
    "kg:nchars",
    "rdf:type",
)


class NoTrace:
    def span(self, name, **tags):
        return nullcontext(tags)


def _fp_core(fp: dict) -> tuple:
    return fp["count"], fp["hx"], fp["hx2"]


class Workload:
    name = ""
    # operations a measured window runs even past --seconds, so that its
    # median stands when one of them meets a burst of hypervisor steal
    min_ops = 3

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def inputs(self) -> None:
        raise NotImplementedError

    def warm(self, spark) -> None:
        """One untimed operation."""
        self.op(spark, -1, NoTrace())

    def setup(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark, i: int, tracer) -> tuple[int, bool, dict]:
        raise NotImplementedError

    def trace_targets(self) -> list:
        """(module, attribute, layer) to wrap in spans while traced."""
        return []

    def layer_extras(self, log, tracer, ops: list) -> dict:
        return {}


class _DocsWorkload(Workload):
    def inputs(self) -> None:
        self.base = inputs.base_documents(BASE_DOCS, self.seed)
        self.docs_dir = self.path("in", "docs")
        inputs.write_documents(
            os.path.join(self.docs_dir, "documents.parquet"), self.base, REPLICAS
        )
        self.snapshot = self.path("out", "snapshot")

    def setup(self, spark) -> None:
        """Materialize the documents' snapshot. The first set-up writes
        it; on the later ones `materialize_graph` finds its fingerprint
        unchanged and only verifies it, as a job restarting over an
        existing snapshot."""
        from triplestore_spark.operators.materialize import materialize_graph
        from triplestore_spark.pipeline.run import run_pipeline

        materialize_graph(run_pipeline(spark, self.docs_dir), self.snapshot)


class Build(_DocsWorkload):
    name = "build"

    def inputs(self) -> None:
        super().inputs()
        self.expected = inputs.expected_canonical_count(self.base, REPLICAS)

    def op(self, spark, i, tracer):
        from triplestore_spark.operators.materialize import (
            MaterializedGraph,
            materialize_graph,
        )
        from triplestore_spark.pipeline.run import run_pipeline

        canon = run_pipeline(spark, self.docs_dir)
        with tracer.span("materialize.write"):
            m = materialize_graph(canon, self.snapshot, force=True)
        fp = _fp_core(m["fingerprint"])
        if not hasattr(self, "first_fp"):
            self.first_fp = fp
        self.manifest = m
        nt_fp, parts = nt_roundtrip(
            MaterializedGraph(spark, self.snapshot).layout("spo"), tracer
        )
        ok = fp[0] == self.expected and fp == self.first_fp and _fp_core(nt_fp) == fp
        return fp[0], ok, parts

    def trace_targets(self):
        from triplestore_spark.operators import materialize
        from triplestore_spark.pipeline import run

        return [
            (run, "read_documents", "corpus"),
            (run, "candidate_triples", "extract"),
            (run, "dedup_triples", "dedup"),
            (materialize, "graph_fingerprint", "materialize.fingerprint"),
        ]

    def layer_extras(self, log, tracer, ops):
        from perfbench import stats, trace

        n = max(1, len(ops))
        rows_out = trace.node_metric(
            log, "extract", "Generate", "number of output rows"
        ) / n
        count = self.manifest["fingerprint"]["count"]
        files, nbytes = 0, 0
        for layout in self.manifest["layouts"]:
            for f in os.listdir(os.path.join(self.snapshot, layout)):
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(self.snapshot, layout, f))
        nt = {}
        for key in ("encode", "decode"):
            secs = [o[key + "_s"] for o in ops if key + "_s" in o]
            med = stats.quartiles(secs)[1] if secs else 0.0
            nt[f"ntriples.{key}.triples_per_s"] = count / med if med else 0.0
        return {
            **nt,
            "extract.rows_out": rows_out,
            "dedup.rows_out": count,
            "dedup.useful_ratio": count / rows_out if rows_out else 0.0,
            "materialize.partitions": self.manifest["num_partitions"],
            "materialize.files": files,
            "materialize.bytes_written": nbytes,
            "materialize.bytes_per_triple": nbytes / count if count else 0.0,
            "materialize.write_skew": trace.write_skew(log),
        }


def nt_roundtrip(triples, tracer):
    """Encode `triples` to N-Triples lines, decode them back, and return
    the fingerprint of the decoded set with the two pass times."""
    from pyspark.sql import functions as F

    from triplestore_spark.operators.materialize import graph_fingerprint
    from triplestore_spark.sources.ntriples import decode_lines_df, nt_encode_expr

    t0 = time.perf_counter()
    with tracer.span("ntriples.encode"):
        # max(length) keeps Catalyst from pruning the encode projection
        triples.select(nt_encode_expr().alias("value")).agg(
            F.max(F.length("value"))
        ).collect()
    t1 = time.perf_counter()
    with tracer.span("ntriples.decode"):
        lines = triples.select(nt_encode_expr().alias("value"))
        # the unwrapped function: this pass is no materialize layer
        fp = getattr(graph_fingerprint, "__wrapped__", graph_fingerprint)(
            decode_lines_df(lines)
        )
    t2 = time.perf_counter()
    return fp, {"encode_s": t1 - t0, "decode_s": t2 - t1}


class Query(_DocsWorkload):
    """One operation is a client's read-side request: the supply
    closure, then LOOKUPS_PER_OP lookups against the documents'
    snapshot, drawn in order from a seeded mix that cycles the kinds."""

    name = "query"
    # steal comes in bursts of some 30 s and slows this workload's small
    # Spark jobs by up to a third: four operations, about 30 s, let one
    # run's median see more than a single burst or quiet spell
    min_ops = 4

    def inputs(self) -> None:
        import duckdb

        super().inputs()
        rng = random.Random(self.seed + 1)
        n_docs = BASE_DOCS * REPLICAS
        hubs = sorted(set(inputs.spec.GAZETTEER.values()))
        # Zipf-like skew over the hub entities, so a few recur often
        hub_w = [1.0 / (r + 1) ** 1.1 for r in range(len(hubs))]
        sources = [f"src:src{k}" for k in range(inputs.N_SOURCES)]

        # the share of absent, hub and source keys is fixed by position in
        # the mix and the seed draws only the keys themselves, so every
        # seed gives the measured window the same blend of key classes
        def subject(j):
            if j % PERIOD == 4:
                return f"doc:{n_docs + rng.randrange(1000)}"  # absent
            return f"doc:{rng.randrange(n_docs)}"

        def obj(j):
            if j % PERIOD < 3:
                return rng.choices(hubs, hub_w)[0]
            if j % PERIOD == 3:
                return rng.choice(sources)
            return "kg:ent/absent"

        def pred(j):
            return "kg:absent" if j % PERIOD == 2 else rng.choice(PREDICATES)

        mix = []
        for i in range(LOOKUP_MIX):
            kind, j = KINDS[i % len(KINDS)], i // len(KINDS)
            if kind == "with_subject":
                args = (subject(j),)
            elif kind == "with_subj_pred":
                args = (subject(j), pred(j))
            elif kind == "with_subj_obj":
                args = (subject(j), obj(j))
            elif kind == "with_predicate":
                args = (pred(j),)
            elif kind == "with_pred_obj":
                o = obj(j)
                args = ("kg:source" if o.startswith("src:") else "kg:mentions", o)
            else:
                args = (obj(j),)
            mix.append((kind, args))

        self.supply_dir = self.path("in", "supply")
        inputs.write_supply_tables(self.supply_dir, seed=self.seed, **SUPPLY)
        con = duckdb.connect()
        try:
            inputs.duckdb_canonical(
                con, os.path.join(self.docs_dir, "documents.parquet")
            )
            self.mix = [(k, a, _duck_count(con, k, a)) for k, a in mix]
            self.closure_rows = inputs.duckdb_closure_rows(con, self.supply_dir)
        finally:
            con.close()

    def setup(self, spark) -> None:
        """Materialize the documents' snapshot and open it."""
        from triplestore_spark.operators.materialize import MaterializedGraph
        from triplestore_spark.queries import registry

        super().setup(spark)
        self.graph = MaterializedGraph(spark, self.snapshot)
        self.closure = registry()["path_supply_closure"][0]

    def warm(self, spark) -> None:
        """The closure and one lookup of each kind: the code paths of a
        full operation in a sixth of the lookups."""
        self.op(spark, -1, NoTrace(), lookups=len(KINDS))

    def op(self, spark, i, tracer, lookups=LOOKUPS_PER_OP):
        t0 = time.perf_counter()
        with tracer.span("bgp.closure"):
            rows = self.closure(spark, self.supply_dir).collect()
        ok = sorted(tuple(r) for r in rows) == self.closure_rows
        t1 = time.perf_counter()
        n = len(rows)
        for k in range(lookups):
            kind, args, expected = self.mix[(i * LOOKUPS_PER_OP + k) % len(self.mix)]
            with tracer.span("scan", kind=kind) as tags:
                got = _consume(_lookup(self.graph, kind, args))
                tags["rows"] = got
            ok = ok and got == expected
            n += got
        parts = {"closure_s": t1 - t0, "lookups_s": time.perf_counter() - t1}
        return n, ok, parts

    def layer_extras(self, log, tracer, ops):
        from perfbench import stats, trace

        n = max(1, len(ops))
        jobs = {s.job for s in log.stages.values() if s.layer == "bgp.closure"}
        out = {
            "bgp.jobs_per_query": len(jobs) / n,
            "bgp.driver_gap_s": trace.driver_gap(log, tracer.spans, "bgp.closure") / n,
        }
        scans = [s for s in tracer.spans if s.name == "scan"]
        for kind in KINDS:
            ms = [1e3 * (s.end - s.start) for s in scans if s.tags.get("kind") == kind]
            out[f"scan.{kind}_p50_ms"] = stats.quartiles(ms)[1] if ms else 0.0
        returned = sum(s.tags.get("rows", 0) for s in scans)
        read = trace.node_metric(log, "scan", "Scan parquet", "number of output rows")
        files = trace.driver_metric(log, "scan", "Scan parquet", "number of files read")
        out["scan.rows_read_per_row_returned"] = read / max(1, returned)
        out["scan.files_read_per_lookup"] = files / max(1, len(scans))
        return out


def _lookup(graph, kind, args):
    from triplestore_spark.dsl import resource

    if kind in ("with_subj_obj", "with_pred_obj"):
        args = (args[0], resource(args[1]))
    elif kind == "with_object":
        args = (resource(args[0]),)
    return getattr(graph, kind)(*args)


def _consume(df) -> int:
    """Row count of `df`, computed with a hash over every column so
    that Catalyst cannot prune the okey/tkey derivation of the scan."""
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)), F.max(F.xxhash64(*df.columns))).first()[0]


def _duck_count(con, kind, args) -> int:
    conds = {
        "with_subject": ["subject = ?"],
        "with_subj_pred": ["subject = ?", "predicate = ?"],
        "with_subj_obj": ["subject = ?", "object_value = ?"],
        "with_predicate": ["predicate = ?"],
        "with_pred_obj": ["predicate = ?", "object_value = ?"],
        "with_object": ["object_value = ?"],
    }[kind]
    if kind in ("with_subj_obj", "with_pred_obj", "with_object"):
        # resource objects: kind 'res', no language tag
        conds = conds + ["object_kind = 'res'", "object_lang = ''"]
    sql = "SELECT count(*) FROM canon WHERE " + " AND ".join(conds)
    return con.execute(sql, list(args)).fetchone()[0]


WORKLOADS = {w.name: w for w in (Build, Query)}
