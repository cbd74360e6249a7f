"""Single-source shortest paths (message-model Bellman-Ford).

Parity contract (``/root/reference/toolkits/graph_analytics/sssp.cpp``):

- messages carry min-distance and merge with min (``sssp.cpp:92-101``);
- apply keeps the min of current and received (``:144-152``);
- scatter relaxes ``dist + edge.dist`` and signals improved neighbors
  (``:157-175``) — i.e. only vertices whose distance changed propagate;
- edge weight defaults to 1.0 (``:60-65``); directed or undirected
  (``--directed`` flag, default treats edges as undirected);
- multi-source supported (``:254+``); unreached vertices keep +inf
  (``std::numeric_limits<double>::max()`` init, ``:45-50``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import EdgeGraph
from ..plans.checkpoint import CheckpointManager
from ..plans.superstep import BSPResult, run_bsp

INF = float("inf")


def sssp(
    graph: EdgeGraph,
    sources: list[int],
    directed: bool = False,
    weight_col: str | None = None,
    max_supersteps: int = 200,
    checkpoint: CheckpointManager | None = None,
    resume: bool = True,
    verbose: bool = False,
    track_parent: bool = False,
) -> BSPResult:
    """Returns BSPResult whose state is ``(id long, distance double)``
    (+ ``parent long`` when ``track_parent``); unreachable vertices have
    distance = +Infinity and parent NULL.

    ``track_parent`` records, per vertex, the predecessor on a shortest
    path (ties broken to the smallest predecessor id for determinism) —
    the state the reference's path-extraction app walks
    (``/root/reference/apps/get_sp/sssp_getpath.cpp``).

    The step relaxes over ``graph.edges`` (directed) or
    ``graph.symmetric_edges``; that view is the loop's layout, filled
    before superstep 0.  The ``__w`` projection stays lazy, so the
    edges are cached once.
    """
    view = graph.edges if directed else graph.symmetric_edges
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    edges = view.select("src", "dst", w.alias("__w"))
    src_lit = F.array(*[F.lit(int(s)) for s in sources])
    init_cols = [
        F.when(F.array_contains(src_lit, F.col("id")), F.lit(0.0))
        .otherwise(F.lit(INF))
        .alias("distance"),
        F.array_contains(src_lit, F.col("id")).alias("__changed"),
    ]
    if track_parent:
        init_cols.insert(1, F.lit(None).cast("long").alias("parent"))
    init = graph.vertices.select("id", *init_cols)

    def step(state: DataFrame, i: int):
        active = state.filter(F.col("__changed")).select("id", "distance")
        relaxed = edges.join(active, edges["src"] == active["id"]).select(
            "dst", (F.col("distance") + F.col("__w")).alias("cand"),
            F.col("src").alias("via"))
        aggs = [F.min("cand").alias("received")]
        if track_parent:
            aggs.append(F.min_by("via", F.struct(F.col("cand").alias("d"),
                                                 F.col("via").alias("v"))
                                 ).alias("rvia"))
        msgs = relaxed.groupBy("dst").agg(*aggs)
        joined = state.join(msgs, state["id"] == msgs["dst"], "left")
        improved = F.coalesce("received", "distance") < F.col("distance")
        out_cols = [
            F.least("distance", F.coalesce("received", "distance")).alias("distance"),
            improved.alias("__changed"),
        ]
        if track_parent:
            out_cols.insert(
                1, F.when(improved, F.col("rvia")).otherwise(F.col("parent"))
                .alias("parent"))
        new_state = joined.select("id", *out_cols)
        from pyspark.sql import Observation
        obs = Observation(f"sssp_{i}")
        observed = new_state.observe(
            obs, F.sum(F.col("__changed").cast("long")).alias("active"))

        def finish():
            n_active = int(obs.get["active"] or 0)
            return ({"active": n_active, "max_delta": float(n_active)},
                    n_active == 0)

        return observed, finish

    result = run_bsp(
        init,
        step,
        max_supersteps=max_supersteps,
        checkpoint=checkpoint,
        resume=resume,
        verbose=verbose,
        layouts=[view],
    )
    result.state = result.state.drop("__changed")
    return result


def extract_path(state: DataFrame, target: int, max_hops: int = 10_000,
                 collect_threshold: int = 200_000) -> list[int]:
    """Walk parent pointers from ``target`` back to a source — the
    reference's ``sssp_getpath`` post-processing.  Returns the vertex
    sequence source..target ([] when target is unreachable).

    When the REACHED set fits on the driver (<= ``collect_threshold``
    rows) the (id, parent) map is collected once and walked in memory —
    one Spark job total.  Otherwise falls back to one small
    ``filter().first()`` job per hop (O(path length) jobs, the r1
    behavior, still correct at any scale).
    """
    rows = state.filter(F.col("id") == target).select("distance", "parent").collect()
    if not rows or rows[0]["distance"] == INF:
        return []
    reached = state.filter(F.col("distance") != INF).select("id", "parent")
    if reached.count() <= collect_threshold:
        parent_of = {r["id"]: r["parent"] for r in reached.collect()}
        path, cur = [target], parent_of.get(target)
        for _ in range(max_hops):
            if cur is None:
                break
            path.append(cur)
            cur = parent_of.get(cur)
        return list(reversed(path))
    path = [target]
    parent = rows[0]["parent"]
    for _ in range(max_hops):
        if parent is None:
            break
        path.append(parent)
        parent = state.filter(F.col("id") == parent).select("parent").first()["parent"]
    return list(reversed(path))
