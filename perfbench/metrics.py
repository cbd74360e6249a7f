"""Turn trial records into the benchmark's named metrics.

End-to-end metrics come from untraced trials (medians when a run holds
more than one).  Per-layer metrics come from the one traced trial: span
walls around calls into each layer, ``BSPResult.history``, checkpoint
manifests, ``statusTracker`` job counts, and the Spark event log
(``rec["eventlog"]``, an ``eventlog.EventLog``).

Which end-to-end number each layer metric should move, and where:

- ``session.start_s``, ``sources.read_s``, ``graph.build_s`` -> ``setup_s``
  on pagerank_8m and cc_chains (on events_ingest the read and build are
  part of the job).
- ``superstep.first_ms``/``steady_ms_*`` and ``spark.shuffle_*`` /
  ``spark.executor_cpu_s`` -> ``job_s`` and ``edge_supersteps_per_s`` on
  pagerank_8m.
- ``superstep.sparse_ms_p50``, ``superstep.jobs_per_superstep``,
  ``spark.driver_gap_s`` -> ``job_s`` on cc_chains, barely on pagerank_8m.
- ``graph.save_bucketed_s``, ``graph.load_bucketed_s``,
  ``sources.edges_from_events_s``, ``algo.triangles_s``, ``checkpoint.*``
  -> ``job_s`` and ``input_rows_per_s`` on events_ingest only.
- ``spark.gc_s``, ``spark.spill_bytes`` -> ``peak_rss_mb`` and ``job_s`` on
  pagerank_8m.  ``peak_rss_mb`` (VmHWM of the driver JVM plus the Python
  driver) is itself reported per layer: it varies by more than a tenth
  between runs of the same input.
"""

from __future__ import annotations

import math
import statistics

from spans import covered

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "edge_supersteps_per_s": "1/s",
    "input_rows_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "graph.build_s": "s",
    "sources.edges_from_events_s": "s",
    "graph.save_bucketed_s": "s",
    "graph.load_bucketed_s": "s",
    "algo.triangles_s": "s",
    "algo.triangles_count": "count",
    "algo.bsp_s": "s",
    "superstep.count": "count",
    "superstep.first_ms": "ms",
    "superstep.steady_n": "count",
    "superstep.steady_ms_p50": "ms",
    "superstep.steady_ms_tail": "ms",
    "superstep.steady_tail_pct": "%",
    "superstep.sparse_n": "count",
    "superstep.sparse_ms_p50": "ms",
    "superstep.active_sum": "count",
    "superstep.jobs_per_superstep": "count",
    "superstep.driver_gap_frac": "ratio",
    "checkpoint.saves": "count",
    "checkpoint.write_ms_sum": "ms",
    "checkpoint.bytes": "B",
    "checkpoint.resume_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "B",
    "spark.driver_gap_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.shuffle_bytes_per_edge_superstep": "B/edge_superstep",
    "trace.job_s": "s",
    "trace.self_time_sum_s": "s",
    "trace_overhead_frac": "ratio",
    "peak_rss_mb": "MB",
}

# Spans that wrap one BSP call (a ``run_bsp`` loop inside the algorithm).
BSP_SPANS = ("algo.pagerank", "algo.connected_components", "checkpoint.resume")


def supersteps(rec: dict) -> int:
    return sum(len(h) for h in rec["bsp"].values())


def end_to_end(trials: list[dict], meta: dict) -> dict:
    """Medians over the run's untraced trials."""
    rows = sum(meta["rows"].values())
    med = statistics.median
    return {
        "setup_s": med([t["t_first_call"] - t["t_spawn"] for t in trials]),
        "job_s": med([t["job_s"] for t in trials]),
        "edge_supersteps_per_s": med(
            [t["n_edges"] * supersteps(t) / t["job_s"] for t in trials]),
        "input_rows_per_s": med([rows / t["job_s"] for t in trials]),
    }


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest nearest-rank percentile with at least ``beyond``
    samples above it, as ``(value, percentile)``; the maximum (percentile
    100) when there are too few samples for that."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return (xs[-1] if xs else 0.0), 100.0
    k = n - beyond  # 1-based rank of the value with `beyond` samples above
    return xs[k - 1], math.floor(100.0 * k / n)


def _subtree(spans: list[dict], root: dict) -> list[dict]:
    out, todo = [root], [root]
    while todo:
        cur = todo.pop()
        kids = [s for s in spans if s["parent"] == cur["id"]]
        out.extend(kids)
        todo.extend(kids)
    return out


def self_time(spans: list[dict], span: dict) -> float:
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return span["end"] - span["start"] - covered(kids, span["start"], span["end"])


def per_layer(rec: dict, untraced_job_s: float, n_vertices: int,
              cores: int) -> dict:
    spans = rec["spans"]
    wall = lambda name: sum(s["end"] - s["start"]  # noqa: E731
                            for s in spans if s["name"] == name)
    job = next(s for s in spans if s["name"] == "job")
    job_tree = _subtree(spans, job)
    log = rec["eventlog"]

    hist = list(rec["bsp"].values())
    steps = [h for hs in hist for h in hs]
    steady = [h["wall_ms"] for hs in hist for h in hs[1:]]
    sparse = [h["wall_ms"] for h in steps
              if 0 <= h["active"] < 0.01 * n_vertices]
    tail_ms, tail_pct = tail(steady)
    n_steps = len(steps)

    bsp = [s for s in spans if s["name"] in BSP_SPANS]
    bsp_groups = {s["id"] for b in bsp for s in _subtree(spans, b)}
    bsp_iv = [(s["start"], s["end"]) for s in bsp]
    bsp_spark = log.summarize(bsp_groups, bsp_iv, cores)
    job_spark = log.summarize({s["id"] for s in job_tree},
                              [(job["start"], job["end"])], cores)
    bsp_wall = sum(b - a for a, b in bsp_iv)

    ck = rec.get("checkpoint", {"manifests": [], "bytes": 0})
    traced_job_s = job["end"] - job["start"]
    out = {
        "session.start_s": wall("session.start"),
        "sources.read_s": wall("sources.read"),
        "graph.build_s": wall("graph.build"),
        "sources.edges_from_events_s": wall("sources.edges_from_events"),
        "graph.save_bucketed_s": wall("graph.save_bucketed"),
        "graph.load_bucketed_s": wall("graph.load_bucketed"),
        "algo.triangles_s": wall("algo.triangles"),
        "algo.triangles_count": rec.get("triangles", 0),
        "algo.bsp_s": bsp_wall,
        "superstep.count": n_steps,
        "superstep.first_ms": hist[0][0]["wall_ms"],
        "superstep.steady_n": len(steady),
        "superstep.steady_ms_p50": statistics.median(steady) if steady else 0.0,
        "superstep.steady_ms_tail": tail_ms,
        "superstep.steady_tail_pct": tail_pct,
        "superstep.sparse_n": len(sparse),
        "superstep.sparse_ms_p50": statistics.median(sparse) if sparse else 0.0,
        "superstep.active_sum": sum(max(h["active"], 0) for h in steps),
        "superstep.jobs_per_superstep":
            sum(rec["jobs_in_span"].values()) / n_steps,
        "superstep.driver_gap_frac":
            bsp_spark["driver_gap_s"] / bsp_wall if bsp_wall else 0.0,
        "checkpoint.saves": len(ck["manifests"]),
        "checkpoint.write_ms_sum": sum(m["write_ms"] for m in ck["manifests"]),
        "checkpoint.bytes": ck["bytes"],
        "checkpoint.resume_s": wall("checkpoint.resume"),
        **{f"spark.{k}": v for k, v in job_spark.items()},
        # base: shuffle bytes written inside the BSP calls, per edge per
        # superstep they ran
        "spark.shuffle_bytes_per_edge_superstep":
            bsp_spark["shuffle_write_bytes"] / (rec["n_edges"] * n_steps),
        "trace.job_s": traced_job_s,
        "trace.self_time_sum_s": sum(self_time(spans, s) for s in job_tree),
        "trace_overhead_frac": (traced_job_s - untraced_job_s) / untraced_job_s,
        "peak_rss_mb": sum(rec["peak_rss_kb"].values()) / 1024.0,
    }
    return {k: out[k] for k in PER_LAYER}
