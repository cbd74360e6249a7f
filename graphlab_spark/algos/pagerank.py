"""PageRank with exact reference semantics.

Parity contract (``/root/reference/toolkits/graph_analytics/pagerank.cpp``):

- init rank = 1.0 for every vertex (``pagerank.cpp:52``);
- gather over IN edges of ``src.rank / src.num_out_edges``
  (``pagerank.cpp:85-95``);
- apply: ``rank = 0.15 + 0.85 * total`` where a vertex with no in-edges
  gets the default-constructed total 0.0
  (``pagerank.cpp:98-105``, ``synchronous_engine.hpp:1589-1590``);
- ranks are NOT normalized and dangling mass is NOT redistributed
  (``graph_analytics.dox:336-339``);
- tolerance mode: iterate until every per-vertex |Δ| <= tol
  (scatter gating at ``pagerank.cpp:108-119``); fixed-iteration mode
  mirrors ``--iterations`` with ``sched_allv`` (``pagerank.cpp:216-223``).

Plan shape (scale-first): the edge table is joined ONCE with
out-degrees to bake a per-edge contribution weight, clustered and
sorted on ``src`` (:func:`_contribs_layout`), and handed to ``run_bsp``
as a loop layout, which materializes it under the loop confs before
superstep 0 is planned.  Every superstep, superstep 0 included, then
reads the layout straight from cache: only the (|V|-sized) rank
DataFrame meets it, and the message aggregation is a native
partial+final hash aggregate (the analog of the reference's
local-gather-then-master merge, ``synchronous_engine.hpp:1563-1663``).
It is the only gather: an Arrow CSR-block gather and a hub-salted
two-level sum were both slower on ``pagerank_8m`` and were removed.

The initial state is the out-degree ids at rank 1.0 — no |2E|-row
vertex-table distinct.  Superstep 0's apply full-outer-joins the
messages, which adds the vertices that have only in-edges (at old rank
1.0), and re-hashes that one result on ``id``; later supersteps keep
the left join, which keeps the state's hash layout.  Measured on the
``pagerank_8m`` benchmark workload (8M edges, 8 fixed supersteps,
local[4] on a shared 4-core VM), all of the above together: superstep
0 16.3 s -> 4.8 s and shuffle written 254 MB -> 178 MB (traced,
seed 1); job median 29.0 s -> 24.1 s (seed 1) and 30.5 s -> 25.3 s
(seed 3), 5 alternating pairs each, all won.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph import EdgeGraph
from ..plans.checkpoint import CheckpointManager
from ..plans.superstep import BSPResult, run_bsp

DAMPING = 0.85
BASE = 0.15


def _contribs_layout(graph: EdgeGraph) -> DataFrame:
    """The lazy per-edge gather layout ``(src, dst, cw = 1/out_degree)``,
    clustered and sorted on ``src``, for ``run_bsp``'s ``layouts``.

    Built under the loop confs, the edges and the out-degrees view are
    both hashed on ``src``, so the join needs no exchange, its sort
    serves the layout's own, and the build, out-degrees included, is
    one Spark job."""
    contribs = graph.edges.join(
        graph.out_degrees.withColumnRenamed("id", "src"), "src"
    ).select("src", "dst", (F.lit(1.0) / F.col("out_degree")).alias("cw"))
    return (contribs.repartition(graph.num_edge_partitions, "src")
            .sortWithinPartitions("src"))


def _initial_state(graph: EdgeGraph, rank0: Callable[[Column], Column],
                   budget: int) -> DataFrame:
    """``(id, rank)`` at ``rank0(id)`` for the out-degree ids only:
    superstep 0 adds the in-edge-only vertices (:func:`_attach_totals`),
    so the |2E|-row ``graph.vertices`` distinct is never built.  The one
    exception is a zero-superstep run, which must still return every
    vertex.  ``run_bsp`` persists this state without AQE, which keeps the
    out-degrees' hash layout on ``id``, so superstep 0 does not shuffle
    the state to meet the ``src``-clustered contribution layout."""
    ids = graph.vertices if budget == 0 else graph.out_degrees
    return ids.select("id", rank0(F.col("id")).alias("rank"))


def _gather(contribs: DataFrame, state: DataFrame) -> DataFrame:
    """``(dst, total)``: the sum of ``rank * cw`` over each vertex's
    in-edges.  The hash aggregate pre-sums a hub's messages per task
    before its one shuffle on ``dst`` (the reference's per-replica
    partial gathers merged at the master)."""
    return (contribs.join(state, contribs["src"] == state["id"])
            .select("dst", (F.col("rank") * F.col("cw")).alias("m"))
            .groupBy("dst").agg(F.sum("m").alias("total")))


def _attach_totals(state: DataFrame, msgs: DataFrame, first: bool,
                   rank0: Callable[[Column], Column],
                   partitions: int) -> DataFrame:
    """``(id, rank, total)``: each vertex's gathered ``total`` (NULL when
    it received no message).  In superstep 0 (``first``) the state holds
    only the out-degree ids, so the join is a full outer one and an
    in-edge-only vertex enters with its initial rank ``rank0(id)``.

    A full outer join's output partitioning is unknown, so that one
    result is re-hashed on ``id`` into the layout's ``partitions``:
    the lineage cut keeps the hash layout, and superstep 1 meets the
    layout without shuffling the state, like every later superstep
    (whose left join keeps the state's layout)."""
    if not first:
        return state.join(msgs, state["id"] == msgs["dst"], "left")
    vid = F.coalesce("id", "dst")
    return state.join(msgs, state["id"] == msgs["dst"], "full_outer").select(
        vid.alias("id"), F.coalesce(F.col("rank"), rank0(vid)).alias("rank"),
        "total").repartition(partitions, "id")


def _unit_rank(_: Column) -> Column:
    return F.lit(1.0)


def pagerank(
    graph: EdgeGraph,
    tol: float = 1e-6,
    max_supersteps: int = 200,
    fixed_supersteps: int | None = None,
    checkpoint: CheckpointManager | None = None,
    resume: bool = True,
    verbose: bool = False,
    delta_cache: bool = False,
) -> BSPResult:
    """Returns BSPResult whose state is ``(id long, rank double)``.

    Every superstep gathers with :func:`_gather`.  ``delta_cache`` runs
    the reference's ``post_delta`` gather cache instead
    (:func:`_pagerank_delta`), in tolerance mode only.
    """
    if delta_cache:
        if fixed_supersteps is not None:
            raise ValueError(
                "pagerank: delta_cache is the dynamic tolerance mode and "
                "does not compose with fixed_supersteps (the reference "
                "likewise gates the delta cache on the dynamic scheduler, "
                "pagerank.cpp:108-127)")
        return _pagerank_delta(
            graph, tol=tol, max_supersteps=max_supersteps,
            checkpoint=checkpoint, resume=resume, verbose=verbose)
    budget = max_supersteps if fixed_supersteps is None else fixed_supersteps
    contribs = _contribs_layout(graph) if budget else None
    init = _initial_state(graph, _unit_rank, budget)

    def step(state: DataFrame, i: int):
        joined = _attach_totals(state, _gather(contribs, state), i == 0,
                                _unit_rank, graph.num_edge_partitions)
        new_rank = (F.lit(BASE)
                    + F.lit(DAMPING) * F.coalesce(F.col("total"), F.lit(0.0)))
        if fixed_supersteps is not None:
            new_state = joined.select("id", new_rank.alias("rank"))
            metrics = {"active": -1, "max_delta": float("nan")}
            return new_state, metrics, i + 1 >= fixed_supersteps
        # Observed form: the convergence all-reduce rides the state
        # materialization job (one Spark job per superstep, not two).
        from pyspark.sql import Observation
        obs = Observation(f"pagerank_{i}")
        delta = F.abs(new_rank - F.col("rank"))
        observed = joined.select(
            "id", new_rank.alias("rank"), delta.alias("__delta")
        ).observe(
            obs,
            F.max("__delta").alias("max_delta"),
            F.sum(F.when(F.col("__delta") > tol, 1).otherwise(0)).alias("active"),
        ).drop("__delta")

        def finish():
            row = obs.get
            max_delta = float(row["max_delta"] or 0.0)
            return ({"active": int(row["active"] or 0),
                     "max_delta": max_delta}, max_delta <= tol)

        return observed, finish

    return run_bsp(
        init,
        step,
        max_supersteps=budget,
        checkpoint=checkpoint,
        resume=resume,
        verbose=verbose,
        layouts=[contribs] if budget else [],
    )


def _pagerank_delta(
    graph: EdgeGraph,
    tol: float = 1e-6,
    max_supersteps: int = 200,
    checkpoint: CheckpointManager | None = None,
    resume: bool = True,
    verbose: bool = False,
) -> BSPResult:
    """Delta-cached dynamic PageRank (``context.post_delta`` gather
    caching, ``icontext.hpp:254`` + ``pagerank.cpp:124-127``).

    Instead of re-gathering every in-edge each superstep, each vertex
    keeps its gather total cached in the state (``total``); a vertex
    whose rank changed by ``change`` posts ``change * cw`` to each
    out-neighbor's cache, so a superstep's edge work is proportional to
    the ACTIVE frontier (``|change| > tol``), not to |E| — the whole
    point of the reference's delta cache, and at scale the reason late
    supersteps cost almost nothing.

    Deliberate deviation from the reference, documented for parity
    review: ``pagerank.cpp:124-127`` posts the RAW ``last_change`` (not
    scaled by the gather's ``1/num_out_edges`` edge weight) and its
    scatter signals unconditionally (``:128-134``), which makes the
    reference's delta mode approximate and non-terminating under the
    synchronous engine.  We post the correctly scaled delta and signal
    only above tolerance, which preserves the exact gather-cache
    invariant ``total == Σ_in rank(src)/out_deg(src)`` up to the
    below-tolerance changes the dynamic scheduler drops — the fixpoint
    every GraphLab dynamic-mode run targets.

    State: ``(id long, rank double, total double, change double)``;
    the returned BSPResult's state is trimmed to ``(id, rank)``.
    """
    contribs = _contribs_layout(graph)
    # Superstep 0 = signal_all: a full gather at rank 1.0 seeds the
    # cache, then apply + scatter as usual.  Every vertex with an
    # in-edge has a t0 row, so the out-degree ids complete the set.
    tot0 = contribs.groupBy("dst").agg(F.sum("cw").alias("t0"))
    t0 = F.coalesce("t0", F.lit(0.0))
    init = (
        graph.out_degrees.select("id")
        .join(tot0.withColumnRenamed("dst", "id"), "id", "full_outer")
        .select(
            "id",
            (F.lit(BASE) + F.lit(DAMPING) * t0).alias("rank"),
            t0.alias("total"),
            (F.lit(BASE) + F.lit(DAMPING) * t0 - F.lit(1.0)).alias("change"),
        )
    )

    def step(state: DataFrame, i: int):
        scat = state.filter(F.abs(F.col("change")) > tol).select(
            F.col("id").alias("sid"), F.col("change").alias("sc"))
        msgs = (
            contribs.join(scat, contribs["src"] == scat["sid"])
            .select("dst", (F.col("sc") * F.col("cw")).alias("m"))
            .groupBy("dst").agg(F.sum("m").alias("d"))
        )
        joined = state.join(msgs, state["id"] == msgs["dst"], "left")
        signaled = F.col("d").isNotNull()
        new_total = F.col("total") + F.coalesce(F.col("d"), F.lit(0.0))
        new_rank = F.when(
            signaled, F.lit(BASE) + F.lit(DAMPING) * new_total
        ).otherwise(F.col("rank"))
        new_state = joined.select(
            "id",
            new_rank.alias("rank"),
            new_total.alias("total"),
            F.when(signaled, new_rank - F.col("rank"))
             .otherwise(F.lit(0.0)).alias("change"),
        )
        from pyspark.sql import Observation
        obs = Observation(f"pagerank_delta_{i}")
        observed = new_state.observe(
            obs,
            F.max(F.abs(F.col("change"))).alias("max_delta"),
            F.sum(
                F.when(F.abs(F.col("change")) > tol, 1).otherwise(0)
            ).alias("active"),
        )

        def finish():
            row = obs.get
            active = int(row["active"] or 0)
            return (
                {"active": active,
                 "max_delta": float(row["max_delta"] or 0.0)},
                active == 0,
            )

        return observed, finish

    result = run_bsp(
        init,
        step,
        max_supersteps=max_supersteps,
        checkpoint=checkpoint,
        resume=resume,
        verbose=verbose,
        layouts=[contribs],
    )
    return BSPResult(
        state=result.state.select("id", "rank"),
        supersteps=result.supersteps,
        converged=result.converged,
        history=result.history,
    )


def total_rank(ranks: DataFrame) -> float:
    """The reference's map_reduce_vertices total-rank aggregate
    (``pagerank.cpp:257-258``)."""
    return ranks.agg(F.sum("rank")).first()[0]


def personalized_pagerank(
    graph: EdgeGraph,
    seeds: list[int],
    tol: float = 1e-6,
    max_supersteps: int = 200,
    checkpoint: CheckpointManager | None = None,
    resume: bool = True,
    verbose: bool = False,
) -> BSPResult:
    """Personalized PageRank: the teleport mass returns only to the
    ``seeds`` set (random-walk-with-restart proximity — the standard
    link-graph seed-expansion primitive; same gather/apply as
    ``pagerank`` with a per-vertex base term, so the reference parity
    contract of ``pagerank.cpp:85-105`` carries over with
    ``0.15 -> 0.15*[id in seeds]``).

    Init rank = the base term (seeds: 0.15, others 0.0) — i.e. the
    fixpoint iteration starts from the zero-mass state rather than the
    uniform one; converges to the same fixpoint, and keeps every
    intermediate value a polynomial in 0.15/0.85 that DuckDB replays
    exactly.  Returns state ``(id, rank double)``.
    """
    if not seeds:
        raise ValueError("personalized_pagerank: seeds must be non-empty")
    seed_ids = [int(s) for s in seeds]

    def base(vid: Column) -> Column:
        return F.when(vid.isin(seed_ids), F.lit(BASE)).otherwise(F.lit(0.0))

    contribs = _contribs_layout(graph) if max_supersteps else None
    init = _initial_state(graph, base, max_supersteps)

    def step(state: DataFrame, i: int):
        joined = _attach_totals(state, _gather(contribs, state), i == 0, base,
                                graph.num_edge_partitions)
        new_rank = base(F.col("id")) + F.lit(DAMPING) * F.coalesce(
            F.col("total"), F.lit(0.0))
        new_state = joined.select(
            "id", new_rank.alias("rank"),
            F.abs(new_rank - F.col("rank")).alias("__delta"))
        from pyspark.sql import Observation
        obs = Observation(f"ppr_{i}")
        observed = new_state.observe(
            obs, F.max("__delta").alias("max_delta")).drop("__delta")

        def finish():
            md = float(obs.get["max_delta"] or 0.0)
            return {"max_delta": md}, md <= tol

        return observed, finish

    return run_bsp(
        init, step, max_supersteps=max_supersteps,
        checkpoint=checkpoint, resume=resume, verbose=verbose,
        layouts=[contribs] if max_supersteps else [])
