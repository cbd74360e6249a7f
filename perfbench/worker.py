"""One benchmark trial: a fresh Python process and JVM driving the program.

Usage: ``python3 perfbench/worker.py SPEC.json`` (``run.py`` writes the
spec and starts this process).  The trial sets up the session and, for
the graph workloads, reads and builds the ``EdgeGraph``; then it runs
the workload's timed calls inside a root ``job`` span.  It writes
``result.json`` (timings, BSP histories, checkpoint manifests, peak RSS,
versions), ``spans.jsonl`` and ``outputs.npz`` (the program's answers)
into the spec's ``out`` directory; ``run.py`` checks the answers and
turns the rest into metrics.  Nothing here checks correctness, so the
worker stays a thin driver of the program's public API.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

from spans import Tracer


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _history(res) -> list[dict]:
    return [{"wall_ms": h["wall_ms"], "active": int(h.get("active", -1))}
            for h in res.history]


def _pairs(df, key: str, val: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select(key, val).toPandas()
    return pdf[key].to_numpy(np.int64), pdf[val].to_numpy()


def graph_setup(spark, spec: dict, tr: Tracer):
    from graphlab_spark import EdgeGraph
    from graphlab_spark.sources.parsers import load_format

    with tr.span("sources.read"):
        edges = load_format(spark, os.path.join(spec["input"], "edges.parquet"),
                            "parquet")
    with tr.span("graph.build"):
        g = EdgeGraph(edges, num_edge_partitions=spec["partitions"])
        n_edges = g.num_edges
    return g, n_edges


def run_pagerank_8m(spark, spec, tr, result):
    from graphlab_spark.algos import pagerank

    g, result["n_edges"] = graph_setup(spark, spec, tr)
    result["t_first_call"] = time.time()
    with tr.span("job"):
        with tr.span("algo.pagerank"):
            res = pagerank(g, fixed_supersteps=spec["supersteps"], resume=False)
            res.state.count()
    result["bsp"] = {"algo.pagerank": _history(res)}
    return {"rank": _pairs(res.state, "id", "rank")}


def run_cc_chains(spark, spec, tr, result):
    from graphlab_spark.algos import connected_components

    g, result["n_edges"] = graph_setup(spark, spec, tr)
    result["t_first_call"] = time.time()
    with tr.span("job"):
        with tr.span("algo.connected_components"):
            res = connected_components(g, resume=False)
            res.state.count()
    result["bsp"] = {"algo.connected_components": _history(res)}
    return {"component": _pairs(res.state, "id", "component")}


def run_events_ingest(spark, spec, tr, result):
    from graphlab_spark import EdgeGraph
    from graphlab_spark.algos import pagerank, triangle_list
    from graphlab_spark.plans import CheckpointManager
    from graphlab_spark.sources.events import edges_from_events

    table = "perfbench_edges"
    ckdir = os.path.join(spec["tmp"], "checkpoints")
    result["t_first_call"] = time.time()
    with tr.span("job"):
        with tr.span("sources.read"):
            events = spark.read.parquet(os.path.join(spec["input"], "events.parquet"))
        with tr.span("sources.edges_from_events"):
            edges = edges_from_events(events).persist()
            edges.count()
        with tr.span("graph.build"):
            g0 = EdgeGraph(edges, num_edge_partitions=spec["partitions"])
            g0.num_edges
        edges.unpersist()
        with tr.span("graph.save_bucketed"):
            g0.save_bucketed(table, path=os.path.join(spec["tmp"], "bucketed"))
        g0.unpersist()
        with tr.span("graph.load_bucketed"):
            g = EdgeGraph.load_bucketed(spark, table)
            result["n_edges"] = g.num_edges
        with tr.span("algo.triangles"):
            result["triangles"] = triangle_list(g).count()
        with tr.span("algo.pagerank"):
            ck = CheckpointManager(ckdir, every=spec["checkpoint_every"])
            first = pagerank(g, fixed_supersteps=spec["supersteps"],
                             checkpoint=ck, resume=False)
            first.state.count()
        with tr.span("checkpoint.resume"):
            resumed = pagerank(g, fixed_supersteps=spec["resume_supersteps"],
                               checkpoint=ck, resume=True)
            resumed.state.count()
    result["bsp"] = {"algo.pagerank": _history(first),
                     "checkpoint.resume": _history(resumed)}
    result["checkpoint"] = {
        "manifests": [{"superstep": m["superstep"],
                       "write_ms": m["checkpoint_write_ms"]}
                      for m in ck.manifests()],
        "bytes": sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(ckdir) for f in fs),
    }
    return {"rank": _pairs(first.state, "id", "rank"),
            "rank_resumed": _pairs(resumed.state, "id", "rank")}


WORKLOADS = {
    "pagerank_8m": run_pagerank_8m,
    "cc_chains": run_cc_chains,
    "events_ingest": run_events_ingest,
}


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    tr = Tracer()
    result: dict = {"t_spawn": spec["t_spawn"]}
    with tr.span("session.import"):
        from graphlab_spark import get_spark
    with tr.span("session.start"):
        spark = get_spark(app_name="perfbench", cores=spec["cores"],
                          shuffle_partitions=spec["partitions"],
                          extra_conf=spec["spark_conf"])
        spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    if spec["trace"]:
        tr.sc = sc
    outputs = WORKLOADS[spec["workload"]](spark, spec, tr, result)
    job = tr.find("job")[0]
    result["job_s"] = job.wall
    if spec["trace"]:
        result["jobs_in_span"] = {
            s.name: len(sc.statusTracker().getJobIdsForGroup(s.id))
            for s in tr.spans if s.name in result["bsp"]}
    result["peak_rss_kb"] = {"python": _vm_hwm_kb("self"),
                             "jvm": _vm_hwm_kb(sc._gateway.proc.pid)}
    result["versions"] = {
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
    out = spec["out"]
    np.savez(os.path.join(out, "outputs.npz"),
             **{f"{k}.{i}": v for k, pair in outputs.items()
                for i, v in enumerate(pair)})
    tr.dump(os.path.join(out, "spans.jsonl"))
    jvm = sc._gateway.proc
    spark.stop()
    # the JVM exits at EOF on its stdin; wait so that no process outlives us
    jvm.stdin.close()
    jvm.wait(timeout=60)
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
