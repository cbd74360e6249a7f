"""The bulk-synchronous superstep driver loop (engine core).

This is the Spark-native re-expression of
``synchronous_engine<VP>::start()``
(``/root/reference/src/graphlab/engine/synchronous_engine.hpp:1271-1452``):

  exchange_messages  -> shuffle + partial/final aggregation (groupBy.agg)
  receive_messages   -> the active-set DataFrame
  termination check  -> one driver-side action per superstep
  execute_gathers    -> edges ⋈ state join + aggregation
  execute_applys     -> left join of the aggregate onto state + exprs
  execute_scatters   -> changed-set join producing next-round messages
  snapshot hook      -> CheckpointManager + lineage truncation

Algorithms supply a ``step`` callable and the loop-invariant
``layouts`` it reads; the driver owns persistence (layouts included),
lineage truncation, durable checkpoints, resume, and the per-superstep
metrics history (convergence + skew), mirroring the engine/algorithm
split of the reference (``ivertex_program.hpp`` vs ``synchronous_engine``).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from .checkpoint import CheckpointManager, SuperstepMetrics, truncate_lineage

# step(state, superstep) -> (new_state, metrics dict, converged bool)
# or the observed form: -> (new_state, finish) where finish() is called
# AFTER the state is materialized (lineage truncation) and returns
# (metrics dict, converged bool).  The observed form lets algorithms
# attach convergence metrics with df.observe() so the termination
# all-reduce piggybacks on the materialization job instead of running
# a second job per superstep.
StepFn = Callable[[DataFrame, int], tuple]


@dataclass
class BSPResult:
    state: DataFrame
    supersteps: int
    converged: bool
    history: list[dict] = field(default_factory=list)


class _no_aqe:
    """Pin loop-hostile SQL confs for the duration of a BSP loop
    (restoring the caller's settings on exit).

    Two confs are scoped:

    - ``spark.sql.adaptive.enabled`` -> false.  A superstep's plan is
      shape-identical every iteration — partition counts are fixed up
      front (num_edge_partitions / shuffle_partitions) and the partial
      aggregate absorbs hub skew, so AQE has nothing left to
      decide; its per-stage re-optimization and shuffle-stat collection
      are pure driver overhead that dominates when per-superstep work
      is small.  Measured (interleaved warm A/B, BASELINE.md §5):
      converged sf0.1 PageRank mean 20.6s -> 17.2s, ~16%.
    - ``spark.sql.autoBroadcastJoinThreshold`` -> -1.  When the |V|-row
      state table fits under the threshold, Catalyst plans the per-
      superstep state⋈edges join as a broadcast hash join: every
      superstep then pays a driver collect + rebroadcast of the entire
      state and an extra broadcast-exchange job (2 jobs/superstep
      instead of 1).  The co-partitioned shuffle join is the plan a
      large-graph run uses anyway (state outgrows any threshold), so
      pinning it makes small-scale behavior match the at-scale plan AND
      is faster locally: measured (interleaved warm A/B, BASELINE.md
      §5 r5) converged sf0.1 PageRank 23.0/24.4s -> 19.0/19.4s (~18%)
      with jobs/superstep 2.04 -> exactly 1.00.  EXPLICIT
      ``F.broadcast`` hints inside loops (k-row centroid/seed tables)
      are unaffected — the hint overrides the threshold.

    The big one-shot scans/joins outside loops keep AQE and implicit
    broadcasts.  The conf flips are session-global, so scopes are
    reference-counted per session under a lock: nested or overlapping
    loops (e.g. two algorithms driven from separate driver threads on
    one session) keep the pins until the LAST scope exits, which
    restores the values the FIRST scope captured — no clobbered
    restores, no permanently lost settings.
    """

    #: conf -> pinned in-loop value
    _PINS = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    _lock = threading.Lock()
    _depth: dict[int, tuple[int, dict[str, str]]] = {}

    def __init__(self, df: DataFrame) -> None:
        self.session = df.sparkSession
        self.conf = self.session.conf

    def __enter__(self) -> None:
        key = id(self.session)
        with self._lock:
            depth, prev = self._depth.get(key, (0, {}))
            if depth == 0:
                prev = {k: self.conf.get(k) for k in self._PINS}
                for k, v in self._PINS.items():
                    self.conf.set(k, v)
            self._depth[key] = (depth + 1, prev)

    def __exit__(self, *exc) -> None:
        key = id(self.session)
        with self._lock:
            depth, prev = self._depth[key]
            if depth == 1:
                for k, v in prev.items():
                    self.conf.set(k, v)
                del self._depth[key]
            else:
                self._depth[key] = (depth - 1, prev)


def no_aqe_loop(fn):
    """Decorator form of :class:`_no_aqe` for the algorithms that still
    own a private loop (Brandes BFS levels, Lloyd iterations, Gibbs
    sweeps) instead of going through :func:`run_bsp`: the first
    DataFrame/EdgeGraph argument supplies the session; AQE is disabled for the call and restored on exit.
    Loop-internal actions (the per-round counts/persists that dominate
    these algorithms) run without AQE's per-stage re-planning; a lazy
    returned DataFrame executes under the caller's setting."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        df = None
        for a in list(args) + list(kwargs.values()):
            if isinstance(a, DataFrame):
                df = a
                break
            edges = getattr(a, "edges", None)
            if isinstance(edges, DataFrame):
                df = edges
                break
        if df is None:
            return fn(*args, **kwargs)
        with _no_aqe(df):
            return fn(*args, **kwargs)

    return wrapper


def _is_cached(df: DataFrame) -> bool:
    """Whether ``df``'s plan is already in the session's cache."""
    return df.storageLevel != StorageLevel.NONE


def persist_planned(df: DataFrame) -> DataFrame:
    """Persist ``df`` with its plan made under the loop confs; returns
    ``df``.  A DataFrame persisted while AQE is on is cached as an
    adaptive plan that has not run, so its output partitioning is
    unknown and the first plan that reads it puts an |E|-row exchange
    and sort in front of the cache.  Planned here, every reader sees
    the real partitioning.  The first job that reads ``df`` fills it."""
    with _no_aqe(df):
        return df.persist()


def run_bsp(
    initial_state: DataFrame,
    step: StepFn,
    max_supersteps: int = 100,
    checkpoint: CheckpointManager | None = None,
    resume: bool = True,
    verbose: bool = False,
    layouts: Sequence[DataFrame] = (),
) -> BSPResult:
    """Run a synchronous GAS loop to convergence or ``max_supersteps``.

    One intentional driver action per superstep (the termination
    all-reduce of ``synchronous_engine.hpp:1360-1368``); state is
    persisted each round, its lineage cut with an eager
    ``localCheckpoint``, and durably checkpointed on the manager's
    cadence.  The cut is every superstep: stacked lazy plans compound
    Catalyst re-analysis (a 5-superstep window once made superstep 3
    ~25x slower than superstep 1 on a 200k-edge graph).  The whole
    loop runs under :class:`_no_aqe`'s confs.

    Layout rule: every loop-invariant DataFrame the step reads (an edge
    table clustered for the per-superstep join, a potential table, an
    ``EdgeGraph`` view) is passed in ``layouts``.  Before the initial
    state is persisted and superstep 0 is planned, each one is persisted
    (:func:`persist_planned`) and counted under the loop confs, so superstep
    0 reads it from cache as-is instead of re-shuffling all |E| rows in
    front of a half-built cache.  PageRank on 8M edges (4-core VM):
    superstep 0 16.3 s -> 4.8 s, shuffle written 254 MB -> 178 MB
    (``algos/pagerank.py``).

    The driver unpersists only caches it created: a layout or an
    initial state that is already cached (an ``EdgeGraph`` view, say)
    stays cached after the loop.
    """
    owned = [df for df in layouts if not _is_cached(df)]
    ckpt = checkpoint or CheckpointManager(None)
    start_step = 0
    state = initial_state
    if resume and ckpt.directory:
        latest = ckpt.latest(initial_state.sparkSession)
        if latest is not None:
            start_step, state = latest
            start_step += 1
    if start_step > max_supersteps:
        # silently returning the longer chain's state labeled with the
        # caller's (smaller) superstep count would corrupt downstream
        # bookkeeping (e.g. Gibbs nsamples vs requested sweeps)
        raise ValueError(
            f"run_bsp: checkpoint resumes at superstep {start_step} but "
            f"only {max_supersteps} supersteps were requested — the "
            "checkpointed chain is already past the requested horizon; "
            "pass resume=False (fresh run), a fresh checkpoint "
            f"directory, or request >= {start_step} supersteps")
    history: list[dict] = []
    converged = False
    # if the loop never runs (resume found the run exactly complete),
    # supersteps below must report start_step, not start_step + 1
    i = start_step - 1
    with _no_aqe(initial_state):
        for df in layouts:
            persist_planned(df).count()
        owns_state = not _is_cached(state)
        if owns_state:
            state = state.persist()
        try:
            for i in range(start_step, max_supersteps):
                t0 = time.time()
                out = step(state, i)
                if len(out) == 2:
                    raw, finish = out
                    metrics, converged = {}, False
                else:
                    raw, metrics, converged = out
                    finish = None
                # Order matters: persist -> (step's own metric actions
                # hit the cache) -> localCheckpoint reads the cache once
                # -> drop the pre-checkpoint cache so state copies never
                # accumulate (the checkpoint RDD owns the data from here).
                owns_raw = not _is_cached(raw)
                raw = raw.persist()
                new_state = truncate_lineage(raw)
                if owns_raw:
                    raw.unpersist()
                if finish is not None:
                    metrics, converged = finish()
                wall_ms = int((time.time() - t0) * 1000)
                metrics = {"superstep": i, "wall_ms": wall_ms, **metrics}
                history.append(metrics)
                if verbose:
                    print(f"[superstep {i}] {metrics}")
                if owns_state:
                    state.unpersist()
                state, owns_state = new_state, True
                if ckpt.should_checkpoint(i) and not converged:
                    sm = SuperstepMetrics(
                        superstep=i,
                        rows=int(metrics.get("rows", -1)),
                        active=int(metrics.get("active", -1)),
                        max_delta=float(metrics.get("max_delta", float("nan"))),
                        wall_ms=wall_ms,
                    )
                    # save() writes state out and returns the parquet
                    # read-back; drop the pre-save cached copy so durable
                    # checkpoints don't pin a stale |V|-row block per save
                    saved = ckpt.save(i, state, sm).persist()
                    state.unpersist()
                    state = saved
                if converged:
                    break
        finally:
            for df in owned:
                df.unpersist()
    return BSPResult(state=state, supersteps=i + 1, converged=converged, history=history)
