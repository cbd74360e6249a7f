"""Event-log parsing, span bookkeeping and the tail percentile."""

import json

import pytest

import eventlog
import metrics
from spans import Tracer, covered


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, launch, finish, run_ms, reason="Success", **m):
    return _ev("SparkListenerTaskEnd", **{
        "Stage ID": stage, "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": reason != "Success", "Killed": False},
        "Task Metrics": {"Executor Run Time": run_ms,
                         "Executor CPU Time": run_ms * 500_000,
                         "JVM GC Time": 1, "Memory Bytes Spilled": 0,
                         "Disk Bytes Spilled": m.get("spill", 0),
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                  "Local Bytes Read": 40,
                                                  "Fetch Wait Time": 2},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 30}},
    })


LOG = [
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
                                    "Properties": {"spark.jobGroup.id": "r.1"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0},
                                          "Properties": {"spark.jobGroup.id": "r.1"}}),
    _task(0, 1_000, 1_400, 350),
    _task(0, 1_100, 1_500, 380, spill=7),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1},
                                          "Properties": {"spark.jobGroup.id": "r.1"}}),
    _task(1, 1_800, 2_000, 190, reason="ExceptionFailure"),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
    # another span's job: must not be attributed to r.1
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2],
                                    "Properties": {"spark.jobGroup.id": "r.2"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2},
                                          "Properties": {"spark.jobGroup.id": "r.2"}}),
    _task(2, 2_100, 2_900, 800),
    "",
]


def test_summarize_attributes_by_job_group():
    log = eventlog.parse_lines(LOG)
    s = log.summarize({"r.1"}, [(1.0, 3.0)], cores=2)
    assert (s["jobs"], s["stages"], s["tasks"], s["tasks_failed"]) == (1, 2, 3, 1)
    assert s["executor_run_s"] == pytest.approx(0.92)
    assert s["executor_cpu_s"] == pytest.approx(0.46)
    assert s["gc_s"] == pytest.approx(0.003)
    assert (s["shuffle_write_bytes"], s["shuffle_read_bytes"]) == (90, 120)
    assert s["shuffle_fetch_wait_s"] == pytest.approx(0.006)
    assert s["spill_bytes"] == 7
    # tasks cover [1.0, 1.5] and [1.8, 2.0] of the 2 s span
    assert s["driver_gap_s"] == pytest.approx(1.3)
    assert s["core_busy_frac"] == pytest.approx(0.92 / 4)


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6), (9, 12)], 1, 10) == pytest.approx(4)
    assert covered([], 0, 1) == 0


def test_self_times_add_up_to_the_root():
    tr = Tracer()
    with tr.span("job"):
        with tr.span("a"):
            with tr.span("a.inner"):
                pass
        with tr.span("b"):
            pass
    spans = [{"id": s.id, "name": s.name, "parent": s.parent,
              "start": s.start, "end": s.end} for s in tr.spans]
    job = spans[0]
    total = sum(metrics.self_time(spans, s) for s in metrics._subtree(spans, job))
    assert total == pytest.approx(job["end"] - job["start"], abs=1e-9)
    assert {s["parent"] for s in spans[1:]} <= {s["id"] for s in spans}


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 41))
    value, pct = metrics.tail(xs)
    assert value == 30 and pct == 75
    assert sum(x > value for x in xs) == 10
    assert metrics.tail([5.0, 1.0]) == (5.0, 100.0)
