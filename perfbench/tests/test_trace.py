import json
import os

import pytest

from perfbench import trace

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def test_self_time_subtracts_the_union_of_overlapping_children():
    # parent [0, 10]; children [2, 5] and [4, 7] overlap each other
    ivs = [("p", 0.0, 10.0, 0), ("a", 2.0, 5.0, 1), ("b", 4.0, 7.0, 1)]
    selfs = trace.self_times(ivs)
    assert selfs["p"] == pytest.approx(10 - 5)
    # the shared [4, 5] is charged once, to the later-started child
    assert selfs["a"] == pytest.approx(2.0)
    assert selfs["b"] == pytest.approx(3.0)
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_self_time_of_nested_and_concurrent_spans():
    # write [1, 9] holds fingerprint [1, 3]; three concurrent layout
    # jobs of the same layer overlap inside [3, 9]
    ivs = [
        ("op", 0.0, 10.0, 0),
        ("write", 1.0, 9.0, 1),
        ("fp", 1.0, 3.0, 2),
        ("job", 3.5, 8.0, 2),
        ("job", 4.0, 8.5, 2),
        ("job", 4.5, 6.0, 2),
    ]
    selfs = trace.self_times(ivs)
    assert selfs["fp"] == pytest.approx(2.0)
    assert selfs["job"] == pytest.approx(5.0)
    assert selfs["write"] == pytest.approx(8 - 2 - 5)
    assert selfs["op"] == pytest.approx(2.0)


def test_union_length():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_tracer_records_depth_and_restores_on_error():
    t = trace.Tracer()
    with t.span("op"):
        with t.span("inner", kind="x") as tags:
            tags["rows"] = 3
        with pytest.raises(RuntimeError):
            with t.span("failing"):
                raise RuntimeError("boom")
    by_name = {s.name: s for s in t.spans}
    assert by_name["op"].depth == 0
    assert by_name["inner"].depth == 1
    assert by_name["inner"].tags == {"kind": "x", "rows": 3}
    assert by_name["failing"].depth == 1
    assert by_name["op"].start <= by_name["inner"].start <= by_name["inner"].end


def test_patched_wraps_and_restores():
    class M:
        @staticmethod
        def f(x):
            return x + 1

    t = trace.Tracer()
    original = M.f
    with trace.patched(t, [(M, "f", "layer")]):
        assert M.f(1) == 2
        assert M.f.__wrapped__ is original
    assert M.f is original
    assert [s.name for s in t.spans] == ["layer"]


def _fixture():
    log = trace.read_event_log(os.path.join(FIXTURES, "build_eventlog.jsonl"))
    with open(os.path.join(FIXTURES, "build_spans.json")) as f:
        spans = [trace.Span(**s) for s in json.load(f)]
    return log, spans


def test_event_log_grouping_on_a_recorded_build():
    """One traced build operation (materialize + N-Triples round trip)
    of a 100-document corpus at local[4], recorded from Spark 4.1 and
    trimmed to the fields the parser reads."""
    log, spans = _fixture()
    table = trace.layer_table(log, spans)
    rows = {layer: table[layer] for layer in trace.LAYERS}

    # the lazy layers get their stages by operator: one scan + exchange
    # of the documents, the Generate stage, and the dedup aggregation
    # reading the extract shuffle
    assert rows["corpus"]["tasks"] >= 1
    assert rows["extract"]["jobs"] == 1
    assert rows["dedup"]["jobs"] == 1
    assert rows["extract"]["shuffle_write_bytes"] == rows["dedup"]["shuffle_read_bytes"]
    # the three layout writes run in threads without a job group and
    # are attributed by time window to materialize.write
    writes = [s for s in log.stages.values() if s.layer == "materialize.write"]
    assert {s.group for s in writes} == {None}
    assert rows["materialize.write"]["jobs"] >= 3
    assert rows["materialize.write"]["shuffle_read_bytes"] == (
        rows["materialize.write"]["shuffle_write_bytes"]
    )
    # the codec spans set job groups; decode runs Python workers
    assert rows["ntriples.encode"]["jobs"] >= 1
    assert rows["ntriples.decode"]["python_s"] > 0
    assert rows["scan"]["jobs"] == 0 and rows["bgp.closure"]["jobs"] == 0

    # write's self time excludes the fingerprint pass nested in it
    fp = rows["materialize.fingerprint"]
    assert rows["materialize.write"]["self_s"] <= (
        rows["materialize.write"]["wall_s"] - fp["wall_s"] + 1e-6
    )
    # self times plus the unattributed remainder account for the op
    op = next(s for s in spans if s.name == trace.ROOT)
    total = sum(r["self_s"] for r in rows.values()) + table["unattributed_s"]
    assert total == pytest.approx(op.end - op.start, rel=1e-6)
    assert table["unattributed_s"] >= 0


def test_sql_metrics_are_summed_per_layer():
    log, spans = _fixture()
    trace.attribute(log, spans)
    rows_out = trace.node_metric(log, "extract", "Generate", "number of output rows")
    # 100 documents (50 replicated twice): 4 metadata triples each plus
    # mentions and media, before dedup
    assert rows_out > 400
    assert trace.node_metric(log, "scan", "Scan parquet", "number of output rows") == 0
