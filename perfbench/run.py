"""The graph-engine benchmark: one command, three seeded workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pagerank_8m --seed 1 --seconds 20 --trace 0

Workloads (why each exists is recorded in BENCHMARK.json):

- ``pagerank_8m``: 8 fixed PageRank supersteps on a 500k-vertex, 8M-edge
  Chung-Lu graph.  Per-edge gather/shuffle/join work dominates.
- ``cc_chains``: hash-min connected components to fixpoint on ~20k
  vertices in disjoint 8-32 vertex paths.  Exactly 32 supersteps whose
  frontier collapses to a few dozen vertices, so the fixed per-superstep
  cost dominates.
- ``events_ingest``: a 150k-row event log through ``edges_from_events``,
  ``save_bucketed``/``load_bucketed``, ``triangle_list().count()``, 6
  PageRank supersteps with ``CheckpointManager(every=2)`` and a resume to
  8.  The only workload with a durable write path and one-shot joins.

A run generates (or reuses from a verified cache) the seeded input, then
runs whole trials, each a fresh ``worker.py`` process with its own JVM on
``local[nproc]``, while the next trial still fits in ``--seconds``
(always at least one).  Every trial's answers are checked against the
numpy oracles in ``oracles.py``.  With ``--trace 0`` the last stdout line
carries the end-to-end metrics (medians over trials); with ``--trace 1``
one untraced and one traced trial run, and it carries the per-layer
metrics of the traced one plus the tracing overhead.  The line before it
is the provenance record.

The figures in the repository's ``BENCH_r0*.json`` and ``BASELINE.md``
come from the older ``bench.py`` on a 32-core machine and cannot be
compared with this benchmark's metrics.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import numpy as np

import eventlog
import gen
import metrics
import oracles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Fixed session shape, recorded with every result.  Four shuffle
# partitions (one task wave on a 4-core box) keep the per-task fixed cost
# of tiny supersteps from masking the driver's own per-superstep cost;
# a constant, not a function of nproc, so the physical plan is the same
# on every box.  4g of driver heap stays far below the physical memory
# of any box this runs on (get_spark's own default is 24g); it is fixed
# from the start (-Xms) because heap resizing made job times vary more.
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "4g"
# a trial still running this long after the run started is killed and
# counted as failed, so that every run ends within three minutes
RUN_LIMIT_S = 170.0

WORKLOAD_SPEC = {
    "pagerank_8m": {"supersteps": 8},
    "cc_chains": {},
    "events_ingest": {"supersteps": 6, "resume_supersteps": 8,
                      "checkpoint_every": 2},
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def expected(workload: str, data: dict, spec: dict) -> dict:
    """Oracle answers, computed from the generated arrays only."""
    if workload == "pagerank_8m":
        e = data["edges"]
        rank = oracles.pagerank(e["src"], e["dst"], spec["supersteps"])
        return {"rank": rank, "n_edges": int((e["src"] != e["dst"]).sum()),
                "n_vertices": len(rank[0])}
    if workload == "cc_chains":
        t = data["truth"]
        return {"component": (t["id"], t["component"]),
                "n_edges": len(data["edges"]["src"]),
                "n_vertices": len(t["id"])}
    src, dst = oracles.event_edges(data["events"])
    rank = oracles.pagerank(src, dst, spec["supersteps"])
    return {"rank": rank,
            "rank_resumed": oracles.pagerank(src, dst, spec["resume_supersteps"]),
            "triangles": oracles.triangle_count(src, dst),
            "n_edges": len(src),
            "n_vertices": len(rank[0])}


def check(workload: str, want: dict, result: dict, outputs) -> list[str]:
    """Names of the answers that disagree with the oracle."""
    bad = []
    if result.get("n_edges") != want["n_edges"]:
        bad.append("n_edges")
    if workload == "events_ingest" and result.get("triangles") != want["triangles"]:
        bad.append("triangles")
    for key in ("rank", "rank_resumed"):
        if key in want and not oracles.allclose_ranks(
                outputs[f"{key}.0"], outputs[f"{key}.1"], *want[key]):
            bad.append(key)
    if "component" in want and not oracles.components_equal(
            outputs["component.0"], outputs["component.1"], *want["component"]):
        bad.append("component")
    return bad


def _group_alive(pgid: int) -> bool:
    """Whether any live (non-zombie) process is left in group ``pgid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the trial's process group (the worker and
    its JVM) and wait until none of it runs."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    while _group_alive(proc.pid):
        time.sleep(0.1)


def trial(workload: str, input_dir: str, trace: bool, run_dir: str,
          deadline: float) -> tuple[dict | None, str]:
    """One fresh worker process; returns (trial record or None, log tail)."""
    tdir = os.path.join(run_dir, uuid.uuid4().hex[:8])
    paths = {k: os.path.join(tdir, k) for k in
             ("out", "local", "jtmp", "warehouse", "events")}
    for p in paths.values():
        os.makedirs(p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": paths["local"],
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={paths['jtmp']}",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + paths["events"],
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spec = {"workload": workload, "root": ROOT, "input": input_dir, "tmp": tdir,
            "out": paths["out"], "trace": trace, "cores": nproc(),
            "partitions": SHUFFLE_PARTITIONS, "spark_conf": conf,
            **WORKLOAD_SPEC[workload]}
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM, SPARK_LOCAL_DIRS=paths["local"],
               SPARK_GRAFT_WAREHOUSE=paths["warehouse"], TMPDIR=paths["jtmp"],
               PYSPARK_PYTHON=sys.executable,
               # no hsperfdata files: they go to /tmp whatever the tmpdir
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    spec_path = os.path.join(tdir, "spec.json")
    log_path = os.path.join(tdir, "worker.log")
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=tdir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print("perfbench: trial timed out", file=sys.stderr)
        finally:
            _stop_group(proc)
    with open(log_path) as f:
        tail = f.read()[-4000:]
    try:
        with open(os.path.join(paths["out"], "result.json")) as f:
            result = json.load(f)
    except (OSError, ValueError):
        return None, tail
    outputs = dict(np.load(os.path.join(paths["out"], "outputs.npz")))
    with open(os.path.join(paths["out"], "spans.jsonl")) as f:
        result["spans"] = [json.loads(line) for line in f]
    if trace:
        result["eventlog_dir"] = paths["events"]
    result["outputs"] = outputs
    result["trial_s"] = time.time() - spec["t_spawn"]
    return result, tail


def provenance(workload: str, seed: int, meta: dict, trials: list[dict]) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    versions = next((t["versions"] for t in trials if t.get("versions")), {})
    return {
        "workload": workload, "seed": seed, "nproc": nproc(),
        "cores": os.cpu_count(), "mem_total_mb": mem_kb // 1024,
        "master": f"local[{nproc()}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_mem": DRIVER_MEM, **versions,
        "numpy": np.__version__, "input_rows": meta["rows"],
        "input_fingerprint": meta["fingerprint"],
        "not_comparable_with": "BENCH_r0*.json and BASELINE.md "
                               "(32-core bench.py figures)",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SPEC))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    # on SIGTERM, unwind so that the running trial's processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "graphlab_spark", "__init__.py")):
        print(f"perfbench: no graphlab_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = WORKLOAD_SPEC[args.workload]
    input_dir, data, meta = gen.materialize(
        os.path.join(WORK, "cache"), args.workload, args.seed)
    want = expected(args.workload, data, spec)
    del data
    run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex[:12])
    os.makedirs(run_dir)
    trials: list[dict] = []
    attempted = failed = 0
    steal0 = steal_s()
    try:
        modes = [False, True] if args.trace else itertools.repeat(False)
        t_measure = time.time()
        for trace in modes:
            t0 = time.time()
            rec, tail = trial(args.workload, input_dir, trace, run_dir,
                              t_start + RUN_LIMIT_S)
            attempted += 1
            bad = ["crashed"] if rec is None else check(
                args.workload, want, rec, rec["outputs"])
            if bad:
                failed += 1
                print(f"perfbench: trial failed ({', '.join(bad)})\n{tail}",
                      file=sys.stderr)
            if rec is not None:
                rec["trace"] = trace
                if trace:  # parse before the trial's directory goes
                    rec["eventlog"] = eventlog.parse_dir(rec["eventlog_dir"])
                trials.append(rec)
            # another untraced trial only while one more, as long as the
            # last, still ends within the measuring budget
            if not args.trace and (time.time() - t_measure
                                   + (time.time() - t0) > args.seconds):
                break
        untraced = [t for t in trials if not t["trace"]]
        traced = [t for t in trials if t["trace"]]
        if not untraced or (args.trace and not traced):
            return 1  # nothing was measured
        if args.trace:
            values = metrics.per_layer(traced[0], untraced[0]["job_s"],
                                       want["n_vertices"], nproc())
            units = metrics.PER_LAYER
        else:
            values = metrics.end_to_end(untraced, meta)
            units = metrics.END_TO_END
        print(json.dumps({
            "provenance": provenance(args.workload, args.seed, meta, trials),
            "samples": len(untraced),
            "failed_frac": {"value": failed / attempted, "unit": "ratio"},
            "trial_s": [round(t["trial_s"], 3) for t in trials],
            "cpu_steal_s": round(steal_s() - steal0, 2),
        }))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
