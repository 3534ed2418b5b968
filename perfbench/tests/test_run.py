import pytest

from perfbench import run


class _Ops:
    """A workload whose every operation returns `result`, or raises it
    when it is an exception."""

    min_ops = 3

    def __init__(self, result):
        self.result = result

    def op(self, spark, i, tracer):
        if isinstance(self.result, Exception):
            raise self.result
        return self.result


def test_a_right_answer_counts_as_attempted_only():
    counts = run.Counts()
    done = run.measure(_Ops((3, True, {})), None, 0, None, counts)
    assert (counts.attempted, counts.failed, len(done)) == (3, 0, 3)


def test_a_wrong_answer_counts_as_failed_and_keeps_its_latency():
    counts = run.Counts()
    done = run.measure(_Ops((3, False, {})), None, 0, None, counts)
    assert (counts.attempted, counts.failed) == (3, 3)
    assert len(done) == 3 and done[0][1:] == (3, {})


def test_a_window_where_every_operation_raises_reports_no_latency():
    counts = run.Counts()
    with pytest.raises(RuntimeError):
        run.measure(_Ops(ValueError("boom")), None, 0, None, counts)
    assert (counts.attempted, counts.failed) == (3, 3)
