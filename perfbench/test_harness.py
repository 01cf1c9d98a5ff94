"""Self-tests for the harness's own arithmetic.

    python3 -m pytest perfbench/test_harness.py -q

``testdata/eventlog_small.jsonl`` is a Spark event log recorded from a
three-job session (a count, a shuffled groupBy, and a grouped
``applyInPandas``) on ``local[2]``, cut down to the job and task events
and the fields the harness reads.
"""

from __future__ import annotations

import os

import pytest

from harness import Harness, PassRecord, completed, layer_metrics, stage_times
from spans import Span, Tracer, attribute_jobs, read_event_log, self_times, tail, union_length

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_small.jsonl")
T0 = 1792209588.0  # just before the recorded session's first job


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        Span(0, "p", "analyze", "construct", 0.0, 10.0, None, 0),
        Span(1, "a", "functions", "engine", 1.0, 3.0, 0, 0),
        Span(2, "b", "functions", "engine", 2.0, 5.0, 0, 0),  # overlaps a (pool thread)
        Span(3, "c", "functions", "engine", 9.0, 12.0, 0, 0),  # runs past the parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)


def test_tail_has_ten_samples_beyond_it():
    values = [float(v) for v in range(30, 0, -1)]  # 1..30, unsorted
    value, pct, beyond = tail(values)
    assert beyond == 10
    assert sum(v > value for v in values) == 10
    assert value == 20.0
    assert pct == pytest.approx(100.0 * 20 / 30)
    assert tail([float(v) for v in range(1, 12)]) == (1.0, pytest.approx(100.0 / 11), 10)


def test_tail_of_a_small_sample_is_its_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    with pytest.raises(ValueError):
        tail([])


def test_event_log_jobs_and_task_metrics():
    jobs = read_event_log(LOG)
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[0].submitted == pytest.approx(1792209588.728)
    assert jobs[0].task_s == pytest.approx(0.339)
    assert jobs[0].shuffle_write_bytes == 118
    assert jobs[1].task_s == pytest.approx(0.423)
    assert jobs[2].task_s == pytest.approx(5.217)
    assert jobs[2].shuffle_write_bytes == 17488
    assert jobs[2].python_bytes_sent == 33128
    assert jobs[2].python_run_s == pytest.approx(4.26)
    assert jobs[0].python_bytes_sent == jobs[1].python_bytes_sent == 0


def _spans():
    return [
        Span(0, "pass", "harness", "pass", T0, T0 + 6.0, None, 0),
        Span(1, "modify.categorize", "modify", "construct", T0 + 0.7, T0 + 1.5, 0, 0),
        Span(2, "analyze.association_study", "analyze", "construct", T0 + 1.8, T0 + 6.0, 0, 0),
        # two engine calls open at job 2's submission (parallel pool threads):
        # the later-started one gets the job
        Span(3, "functions.wolsagg", "functions", "engine", T0 + 2.0, T0 + 3.0, 2, 0),
        Span(4, "functions.wbinomirls", "functions", "engine", T0 + 2.8, T0 + 5.6, 2, 0),
    ]


def test_jobs_go_to_the_innermost_latest_span_by_time_window():
    by_span = attribute_jobs(_spans(), read_event_log(LOG))
    assert [j.job_id for j in by_span[1]] == [0]
    assert [j.job_id for j in by_span[2]] == [1]
    assert [j.job_id for j in by_span[4]] == [2]
    assert 3 not in by_span and 0 not in by_span


def test_jobs_outside_every_span_are_not_attributed():
    spans = [Span(0, "late", "modify", "construct", T0 + 2.5, T0 + 6.0, None, 0)]
    by_span = attribute_jobs(spans, read_event_log(LOG))
    assert [j.job_id for j in by_span[0]] == [2]


def test_layer_metrics_from_the_recorded_log():
    m = layer_metrics(_spans(), read_event_log(LOG), [PassRecord(0, traced=True, fits_ok=3, fits_tried=4)])
    assert m["modify.calls"] == 1
    assert m["modify.construct_jobs"] == 1
    assert m["modify.task_s"] == pytest.approx(0.339)
    assert m["modify.categorize.construct_jobs"] == 1
    # layer numbers are self: the engine spans' job is not analyze's
    assert m["analyze.construct_jobs"] == 1
    assert m["analyze.task_s"] == pytest.approx(0.423)
    assert m["functions.construct_jobs"] == 1
    assert m["functions.calls"] == 2
    # operator numbers are inclusive of the engine calls inside them
    assert m["analyze.association_study.construct_jobs"] == 2
    assert m["analyze.association_study.construct_s"] == pytest.approx(4.2)
    assert m["functions.wbinomirls.calls"] == 1
    assert m["functions.wbinomirls.s"] == pytest.approx(2.8)
    assert m["spark.jobs"] == 3
    assert m["spark.python_bytes_sent"] == 33128
    assert m["spark.task_s"] == pytest.approx(0.339 + 0.423 + 5.217)
    assert m["analyze.fit_yield"] == pytest.approx(0.75)


class _Frame:
    def collect(self):
        return []


class _FailingFrame:
    def collect(self):
        raise RuntimeError("Python worker failed")


def test_a_failure_at_execute_time_fails_the_op_and_aborts_the_pass():
    h = Harness(Tracer(enabled=False))
    with h.run_pass(0):
        with h.stage("qc"):
            h.collect("modify.ok", _Frame)
        with h.stage("analysis"):
            h.collect("analyze.association_study", _FailingFrame)  # raises at collect
            h.collect("analyze.add_corrected_pvalues", _Frame)  # never reached
    with h.run_pass(1):
        with h.stage("qc"):
            h.collect("modify.ok", _Frame)
        with h.stage("analysis"):
            h.collect("analyze.association_study", _Frame)
    with h.run_pass(2):
        h.collect("modify.ok", _Frame)
        raise KeyError("a bug in the harness's own checks")
    aborted, ok, buggy = h.passes
    assert aborted.aborted and aborted.failed_ops == {"analyze.association_study"}
    assert aborted.attempted == 2
    assert not ok.aborted and ok.failed_ops == set()
    assert buggy.aborted and buggy.failed_ops == {"pass"}
    # only the pass that ran to its end is timed
    assert completed(h.passes) == [ok]
    assert set(stage_times(h.tracer.spans, 1)) == {"pass_s", "qc_s", "analysis_s"}
