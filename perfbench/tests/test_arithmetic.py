"""Self-tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import spans, stats


def _span(i, name, parent, start, end):
    return spans.Span(i, name, parent, start, end)


def test_self_time_subtracts_children_once():
    sp = [
        _span(0, "build", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 3.0, 5.0),   # overlaps a: 1..5 is covered once
        _span(3, "c", 0, 9.0, 12.0),  # clipped to the parent's end
        _span(4, "a.x", 1, 2.0, 3.0),
    ]
    st = spans.self_times(sp)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_spans():
    tr = spans.Tracer()
    with tr.span("root"):
        with tr.span("child") as c:
            c.counts["rows_out"] = 3.0
    root, child = tr.spans
    assert child.parent == root.id and root.parent is None
    assert root.start <= child.start <= child.end <= root.end


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(x > value for x in xs) == 10
    assert stats.tail(list(range(11)))[:2] == (0, 100 / 11)
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def _events():
    """Two stages in job group 7, one in group 8, one task with Python
    accumulables, one ungrouped job."""
    def task(stage, launch, run_ms, cpu_ns, gc, spill, shuffle, accums=()):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": launch + run_ms,
                          "Accumulables": [{"Name": n, "Update": str(u)} for n, u in accums]},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc, "Memory Bytes Spilled": spill,
                             "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
        }

    def submitted(stage, at, group):
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0, "Submission Time": at},
                "Properties": {"spark.jobGroup.id": group} if group else {}}

    def job(group):
        return {"Event": "SparkListenerJobStart", "Job ID": 0,
                "Properties": {"spark.jobGroup.id": group} if group else {}}

    return [
        job("7"), submitted(1, 1000, "7"), submitted(2, 1500, "7"),
        task(1, 1100, 200, 100_000_000, 10, 0, 2_000_000,
             [("time to initialize Python workers", 300), ("time to run Python workers", 50),
              ("data sent to Python workers", 1_000_000),
              ("data returned from Python workers", 500_000),
              ("number of output rows", 99)]),
        task(1, 1300, 100, 50_000_000, 0, 1_000_000, 0),
        task(2, 1500, 400, 300_000_000, 5, 0, 0),
        job("8"), submitted(3, 2000, "8"), task(3, 2250, 1000, 900_000_000, 0, 0, 0),
        job(None),
    ]


def test_event_log_aggregation(tmp_path):
    # the rolling-directory layout, parts out of lexical order
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    ev = _events()
    (d / "events_10_local-1").write_text("\n".join(json.dumps(e) for e in ev[6:]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in ev[:6]) + "\n")
    path = spans.event_log_path(str(tmp_path), "local-1")
    groups = spans.aggregate_event_log(spans.read_events(path))

    g7 = groups["7"]
    assert g7["jobs"] == 1 and g7["tasks"] == 3
    assert g7["task_s"] == pytest.approx(0.7)
    assert g7["cpu_s"] == pytest.approx(0.45)
    assert g7["gc_s"] == pytest.approx(0.015)
    assert g7["spill_mb"] == pytest.approx(2.0)
    assert g7["shuffle_mb"] == pytest.approx(2.0)
    assert g7["sched_wait_s"] == pytest.approx((100 + 300 + 0) / 1e3)
    assert g7["py_init_s"] == pytest.approx(0.3)
    assert g7["py_run_s"] == pytest.approx(0.05)
    assert g7["py_mb"] == pytest.approx(1.5)
    assert groups["8"]["sched_wait_s"] == pytest.approx(0.25)
    assert groups[""]["jobs"] == 1

    sp = [_span(7, "segment", None, 0.0, 2.0), _span(9, "idle", None, 0.0, 1.0)]
    lm = spans.layer_metrics(sp, groups)
    assert lm[7]["busy_s"] == 2.0 and lm[7]["tasks"] == 3
    assert lm[9]["jobs"] == 0


def test_layers_sum_their_spans():
    sp = [
        _span(0, "build", None, 0.0, 10.0),
        _span(1, "segment:segment_documents", 0, 0.0, 1.0),
        _span(2, "segment:token_guard", 0, 1.0, 4.0),
        _span(3, "trace:rows_in", 2, 1.0, 2.0),
    ]
    sp[2].counts["rows_out"] = 5.0
    groups = {"1": {**dict.fromkeys(spans.GROUP_FIELDS, 0.0), "jobs": 1.0},
              "2": {**dict.fromkeys(spans.GROUP_FIELDS, 0.0), "jobs": 2.0},
              "3": {**dict.fromkeys(spans.GROUP_FIELDS, 0.0), "jobs": 4.0}}
    layers = spans.by_layer(sp, groups)
    assert set(layers) == {"build", "segment", "trace"}
    assert layers["segment"]["busy_s"] == pytest.approx(1.0 + 2.0)
    assert layers["segment"]["jobs"] == 3.0 and layers["segment"]["rows_out"] == 5.0
    assert layers["trace"]["jobs"] == 4.0
    assert layers["build"]["busy_s"] == pytest.approx(6.0)
