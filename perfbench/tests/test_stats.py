"""Latency figures, failure accounting, spans and event-log attribution."""

import json

import pytest

import stats
from spans import EventLog, Span, Tracer, attribute, covered, read_event_log, self_times


def _ops(walls, errors=()):
    return [stats.Op("s", w, 10, errors[i] if i < len(errors) else "")
            for i, w in enumerate(walls)]


def test_failures_rank_at_the_timeout():
    ops = _ops([1.0, 2.0, 3.0], ["", "KeyError: 'Z'"])
    assert stats.ranked_latencies(ops, 10.0) == [1.0, 3.0, 10.0]
    assert stats.p50(ops, 10.0) == 3.0


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(_ops([1.0] * 20), 10.0) is None
    lat, pct, n = stats.tail(_ops([float(i) for i in range(1, 41)]), 100.0)
    assert (lat, pct, n) == (30.0, 75.0, 40)


def test_throughput_success_and_failure_types():
    ops = _ops([1.0, 1.0, 2.0, 4.0], ["", "KeyError: 'Z'", "KeyError: 'Y'", "check: ranks"])
    assert stats.cells_per_s(ops) == pytest.approx(10 / 8)
    assert stats.success_rate(ops) == 0.25
    assert stats.failures_by_type(ops) == {"KeyError": 2, "check": 1}


def test_host_probe_is_positive():
    assert 0 < stats.host_probe(loops=1) < 60


def test_self_time_subtracts_children():
    spans = [Span(0, "op", 0.0, 10.0, None, 1), Span(1, "a", 1.0, 4.0, 0, 1),
             Span(2, "b", 3.0, 6.0, 0, 1), Span(3, "c", 2.0, 3.0, 1, 1)]
    assert self_times(spans) == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}
    assert covered([(1.0, 4.0), (3.0, 6.0), (9.0, 12.0)], 0.0, 10.0) == 6.0


def test_tracer_records_nothing_when_off():
    t = Tracer(enabled=False)
    with t.span("x"):
        t.count("n")
    assert t.spans == [] and t.counters == {}
    t.enabled, t.op = True, 3
    with t.span("op"):
        with t.span("inner"):
            t.count("n", 2)
    assert [(s.name, s.parent, s.op) for s in t.spans] == [("op", None, 3), ("inner", 0, 3)]
    assert t.counters == {"op:n": 2}


def test_event_log_attribution_to_the_innermost_span(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 2500},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Submission Time": 2600, "Number of Tasks": 2}},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": 2700},
         "Task Metrics": {"Executor Run Time": 400,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 20000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 21000},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    ev = read_event_log(str(tmp_path))
    assert ev.jobs == [(2.5, 3.5), (20.0, 21.0)] and ev.stages == [2.6]
    assert ev.tasks == [(2.7, 0.4, 1000)]
    spans = [Span(0, "op", 0.0, 10.0, None, 0), Span(1, "ml.profile", 2.0, 4.0, 0, 0)]
    per_span = attribute(spans, ev)
    assert set(per_span) == {1}  # the job outside every span is dropped
    c = per_span[1]
    assert (c.jobs, c.stages, c.tasks, c.busy_s, c.shuffle_bytes) == (1, 1, 1, 0.4, 1000)
    assert c.job_intervals == [(2.5, 3.5)]


def test_layer_metrics_read_zero_for_idle_layers():
    from report import PER_LAYER, layer_metrics

    spans = [Span(0, "op", 0.0, 2.0, None, 0), Span(1, "modeler.suggest", 0.5, 1.5, 0, 0),
             Span(2, "modeler.align", -3.0, -1.0, None, None)]
    values = layer_metrics(spans, {"op:graph_builds": 31, "op:trees": 10,
                                   "op:steiner_calls": 1}, None, [2.0],
                           [(2.0, 1.6), (3.0, 2.0), (1.0, 1.0)], 4, 2, {})
    assert set(values) == {name for name, *_ in PER_LAYER}
    assert values["modeler.suggest_s"] == 1.0
    assert values["modeler.align_s"] == 1.0  # set-up total over 2 set-ups
    assert values["modeler.trees_per_graph_build"] == pytest.approx(10 / 31)
    assert values["trace.overhead_share"] == pytest.approx(0.25)
    assert values["ml.fit_s"] == 0 and values["spark.jobs_per_op"] == 0
    assert values["spark.core_idle_share"] == 0 and values["mem.jvm_rss_peak_mb"] == 0
