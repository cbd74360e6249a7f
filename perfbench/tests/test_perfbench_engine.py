"""The program against the oracles on tiny seeded inputs, through the
same fresh-process trial path the benchmark uses."""

import json
import os
import time

import numpy as np
import pytest

import eventlog
import gen
import metrics
import run

TINY = {"pagerank_8m": 0.0005, "cc_chains": 0.02, "events_ingest": 0.002}


def _inputs(tmp_path, workload, seed):
    input_dir, data, _ = gen.materialize(str(tmp_path / "cache"), workload, seed,
                                         TINY[workload])
    return input_dir, run.expected(workload, data, run.WORKLOAD_SPEC[workload])


@pytest.mark.parametrize("workload,seed", [
    ("pagerank_8m", 1), ("cc_chains", 1), ("events_ingest", 1),
    ("events_ingest", 2),
])
def test_engine_agrees_with_oracle_and_trace_adds_up(tmp_path, workload, seed):
    input_dir, want = _inputs(tmp_path, workload, seed)
    os.makedirs(tmp_path / "run")
    rec, tail = run.trial(workload, input_dir, True, str(tmp_path / "run"),
                          time.time() + 170)
    assert rec is not None, tail
    assert run.check(workload, want, rec, rec["outputs"]) == []
    rec["eventlog"] = eventlog.parse_dir(rec["eventlog_dir"])
    layer = metrics.per_layer(rec, rec["job_s"], want["n_vertices"], run.nproc())
    assert set(layer) == set(metrics.PER_LAYER)
    assert layer["trace.self_time_sum_s"] == pytest.approx(layer["trace.job_s"])
    assert layer["spark.jobs"] > 0 and layer["spark.tasks"] > 0
    assert layer["superstep.count"] > 0
    assert (layer["checkpoint.saves"] > 0) == (workload == "events_ingest")
    assert (layer["algo.triangles_count"] > 0) == (workload == "events_ingest")


def test_check_names_each_wrong_answer(tmp_path):
    _, want = _inputs(tmp_path, "events_ingest", 3)
    ids, rank = want["rank"]
    rids, rrank = want["rank_resumed"]
    outputs = {"rank.0": ids, "rank.1": rank.copy(),
               "rank_resumed.0": rids, "rank_resumed.1": rrank}
    result = {"n_edges": want["n_edges"], "triangles": want["triangles"]}
    assert run.check("events_ingest", want, result, outputs) == []
    outputs["rank.1"][0] += 1e-6
    result["triangles"] += 1
    assert run.check("events_ingest", want, result, outputs) == ["triangles", "rank"]

    _, want = _inputs(tmp_path, "cc_chains", 3)
    ids, comp = want["component"]
    outputs = {"component.0": ids[::-1].copy(), "component.1": comp[::-1].copy()}
    result = {"n_edges": want["n_edges"]}
    assert run.check("cc_chains", want, result, outputs) == []
    outputs["component.1"][np.argmax(comp[::-1])] -= 1
    assert run.check("cc_chains", want, result, outputs) == ["component"]


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOAD_SPEC)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
