"""Physical-plan quality assertions: the scale behaviors the engine
promises must be visible in `.explain` output, not just hoped for.

- column pruning reaches the parquet scan (ReadSchema excludes unused
  columns — a scan reading all columns for a 2-column projection is a
  100 TB bug);
- predicate pushdown reaches the scan (PushedFilters);
- the tiny event-type dimension joins via broadcast, not shuffle;
- the per-superstep PageRank aggregation is partial+final (two
  HashAggregate levels), i.e. map-side combine absorbs hub fan-in.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_column_pruning_reaches_scan(spark):
    # other modules may have cached this table — a cached relation
    # replaces the FileScan and hides ReadSchema
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", F.length("text").alias("n"))
    plan = _plan(q)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_predicate_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("n_chars") > 100).select("doc_id")
    plan = _plan(q)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "n_chars" in pushed


def test_event_type_dim_is_broadcast(spark):
    from graphlab_spark.sources.events import edges_from_events
    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(edges_from_events(events))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_pagerank_message_agg_is_partial_final(spark):
    """The gather reduction must show two HashAggregate levels (partial
    map-side combine + final) — the reference's local-gather-then-
    master-merge realized natively."""
    from graphlab_spark import EdgeGraph
    from graphlab_spark.sources.parsers import load_synthetic_powerlaw
    g = EdgeGraph(load_synthetic_powerlaw(spark, 200), num_edge_partitions=4)
    contribs = (
        g.edges.join(g.out_degrees.withColumnRenamed("id", "src"), "src")
        .select("src", "dst", (F.lit(1.0) / F.col("out_degree")).alias("cw"))
    )
    state = g.vertices.select("id", F.lit(1.0).alias("rank"))
    msgs = (
        contribs.join(state, contribs["src"] == state["id"])
        .select("dst", (F.col("rank") * F.col("cw")).alias("m"))
        .groupBy("dst").agg(F.sum("m").alias("total"))
    )
    plan = _plan(msgs)
    assert plan.count("HashAggregate") >= 2
    g.unpersist()


def test_whole_stage_codegen_covers_text_ops(spark):
    from graphlab_spark.functions import text as T
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select(
        "doc_id", T.ws_token_count(F.col("text")).alias("t"),
        F.round(T.quality_score(F.col("text")), 6).alias("q"))
    # '*(n)' prefixes mark whole-stage-codegen stages in the plan string
    plan = _plan(q)
    assert "*(1)" in plan and "Project" in plan


def test_mplp_and_dd_node_reductions_are_partial_final(spark):
    """The new graphical-model reductions (MPLP node sums, DD votes)
    must keep the two-level HashAggregate shape (map-side combine +
    final) — the property that makes per-superstep shuffles |V|-sized
    instead of |E|-sized at scale."""
    from graphlab_spark import EdgeGraph
    from graphlab_spark.algos.dd import dd_state
    from graphlab_spark.algos.mplp import _node_sums, mplp_duals
    from graphlab_spark.sources.parsers import load_synthetic_powerlaw
    g = EdgeGraph(load_synthetic_powerlaw(spark, 120), num_edge_partitions=4)
    d = mplp_duals(g, iterations=1)
    assert _plan(_node_sums(d)).count("HashAggregate") >= 2
    s = dd_state(g, iterations=1)
    votes = (
        s.select(F.col("src").alias("id"), F.col("xi").alias("x"))
        .unionAll(s.select(F.col("dst").alias("id"), F.col("xj").alias("x")))
        .groupBy("id").agg(F.avg("x").alias("v1"))
    )
    assert _plan(votes).count("HashAggregate") >= 2
    g.unpersist()


def test_bsp_loop_disables_and_restores_aqe(spark):
    """run_bsp and the no_aqe_loop decorator turn adaptive execution
    off only for the loop's duration: the caller's setting is restored
    on normal exit and on error."""
    from pyspark.sql import functions as F

    from graphlab_spark.plans.superstep import no_aqe_loop, run_bsp

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    seen = {}

    def step(state, i):
        seen[i] = spark.conf.get("spark.sql.adaptive.enabled")
        return state, {}, i >= 1

    init = spark.range(3).select("id", F.lit(1.0).alias("rank"))
    run_bsp(init, step, max_supersteps=3)
    assert set(seen.values()) == {"false"}
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    # decorator: restores on exception too
    @no_aqe_loop
    def boom(df):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        raise RuntimeError("x")

    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        boom(init)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_no_aqe_scope_is_reentrant(spark):
    """Overlapping/nested _no_aqe scopes reference-count per session:
    AQE stays off until the LAST scope exits, which restores the value
    the FIRST captured."""
    from graphlab_spark.plans.superstep import _no_aqe

    df = spark.range(1)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    outer, inner = _no_aqe(df), _no_aqe(df)
    outer.__enter__()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    inner.__enter__()
    # out-of-order exit (thread A finishing before thread B)
    outer.__exit__()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    inner.__exit__()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted by job group from the
    status store (a total-list size stops growing once the store has
    dropped its oldest jobs)."""
    import uuid
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_superstep(spark):
    """The r5 fixed-cost contract: a PageRank superstep runs EXACTLY
    one Spark job (the localCheckpoint materialization the Observation
    convergence read rides on).  A second job per superstep means an
    implicit broadcast-exchange crept back into the loop (the
    autoBroadcastJoinThreshold pin in _no_aqe regressed) or an extra
    action was added to the step path."""
    from graphlab_spark.algos.pagerank import pagerank
    from graphlab_spark.graph import EdgeGraph
    from graphlab_spark.sources.parsers import load_synthetic_powerlaw

    g = EdgeGraph(load_synthetic_powerlaw(spark, 500, seed=7),
                  num_edge_partitions=4)
    g.num_edges
    pagerank(g, fixed_supersteps=1, resume=False)  # warm all layouts
    jobs = _jobs(spark, lambda: pagerank(g, fixed_supersteps=4, resume=False))
    # 4 superstep jobs + at most one one-time contribution-layout
    # build; the broadcast regression this guards against doubles the
    # count (2 jobs/superstep = 8+)
    assert jobs <= 5, f"expected <=1 job/superstep (+1 build), got {jobs}/4"
    g.unpersist()


def _loop_cases():
    """(name, run(graph, n)) for every loop on run_bsp: ``run`` drives
    the loop for ``n`` supersteps (a superstep budget, or a round cap
    the loop does not reach on the test graph)."""
    import pytest
    from pyspark.sql import functions as F

    from graphlab_spark.algos import ad3, coloring, dd, diameter, kcore, lbp, mplp
    from graphlab_spark.algos.connected_components import connected_components
    from graphlab_spark.algos.hits import hits
    from graphlab_spark.algos.pagerank import pagerank, personalized_pagerank
    from graphlab_spark.algos.sssp import sssp
    from graphlab_spark.operators.vertex_program import PAGERANK_PROGRAM

    def coloring_run(fn):
        def run(g, n):
            # the 8-clique colors one vertex per round: n < 8 rounds
            # stop at the cap with the max_rounds error
            with pytest.raises(RuntimeError, match="uncolored"):
                fn(g, max_rounds=n)
        return run

    def table_duals(g, n):
        unary = g.vertices.select(
            "id", F.array(F.lit(-0.5), F.lit(-0.9)).alias("theta"))
        factors = g.canonical_undirected_edges.select(
            "src", "dst",
            F.array(*[F.lit(v) for v in (-0.3, -1.2, -1.2, -0.3)]).alias("table"))
        mplp.mplp_table_duals(unary, factors, 2, iterations=n)

    return {
        "pagerank": lambda g, n: pagerank(g, fixed_supersteps=n, resume=False),
        # tolerance 0 never converges before the cap on the test graph
        "pagerank_delta_cache": lambda g, n: pagerank(
            g, tol=0.0, max_supersteps=n, delta_cache=True, resume=False),
        "personalized_pagerank": lambda g, n: personalized_pagerank(
            g, [100], tol=0.0, max_supersteps=n, resume=False),
        "pagerank_program": lambda g, n: PAGERANK_PROGRAM.run(
            g, fixed_supersteps=n, resume=False),
        "sssp": lambda g, n: sssp(g, [100], max_supersteps=n, resume=False),
        "sssp_directed": lambda g, n: sssp(
            g, [100], directed=True, max_supersteps=n, resume=False),
        "connected_components":
            lambda g, n: connected_components(g, max_supersteps=n, resume=False),
        "hits": lambda g, n: hits(g, supersteps=n, resume=False),
        "kcore_subgraph": lambda g, n: kcore.kcore_subgraph(g, 2, max_rounds=n),
        "greedy_coloring": coloring_run(coloring.greedy_coloring),
        "warp_coloring": coloring_run(coloring.warp_coloring),
        "approx_diameter":
            lambda g, n: diameter.approx_diameter(g, max_supersteps=n),
        "lbp_beliefs": lambda g, n: lbp.lbp_beliefs(g, iterations=n),
        "mplp_duals": lambda g, n: mplp.mplp_duals(g, iterations=n),
        "mplp_table_duals": table_duals,
        # ad3 runs iterations - 1 supersteps after its closed-form init
        "ad3_state": lambda g, n: ad3.ad3_state(g, iterations=n + 1),
        "bethe_admm_state":
            lambda g, n: ad3.bethe_admm_state(g, iterations=n),
        "dd_state": lambda g, n: dd.dd_state(g, iterations=n),
    }


_LOOPS = list(_loop_cases())


@pytest.mark.parametrize("name", _LOOPS)
def test_loop_runs_one_job_per_superstep(spark, name):
    """Every loop on run_bsp runs exactly one Spark job per superstep:
    two more supersteps cost exactly two more jobs.  The test graph is
    a 20-vertex path (CC, k-core and the diameter estimate need ~20
    supersteps on it) next to an 8-clique (coloring needs 8 rounds)."""
    from graphlab_spark.graph import EdgeGraph

    path = [(100 + v, 101 + v) for v in range(19)]
    clique = [(u, v) for u in range(8) for v in range(u + 1, 8)]
    g = EdgeGraph(spark.createDataFrame(path + clique, "src long, dst long"),
                  num_edge_partitions=4)
    run = _loop_cases()[name]
    try:
        run(g, 1)  # warm the graph's views
        n2, n4 = _jobs(spark, lambda: run(g, 2)), _jobs(spark, lambda: run(g, 4))
        assert n4 - n2 == 2, f"{name}: {n2} jobs for 2 supersteps, {n4} for 4"
    finally:
        g.unpersist()


def _walk_above_caches(node, path=()):
    """Yield (node, ancestors) for every physical-plan node, without
    descending into cached relations (their build plans ran already)."""
    yield node, path
    if node.nodeName() == "InMemoryTableScan":
        return
    children = node.children()
    for k in range(children.size()):
        yield from _walk_above_caches(children.apply(k), path + (node,))


def test_pagerank_superstep0_reads_layout_from_cache(spark, monkeypatch):
    """Superstep 0 must read the contribution layout straight from its
    cache, as every later superstep does: the plan's only
    ENSURE_REQUIREMENTS exchange is the message aggregation, and no
    exchange or sort sits between the layout's cache scan and the join.
    A layout persisted lazily under AQE is planned as a plan that has
    not run, and superstep 0 then re-shuffles and re-sorts all |E|
    cached edges.  PageRank also never builds the |2E|-row vertex
    table: the state starts from the out-degree ids, and superstep 0's
    full outer join is re-hashed on id once, so superstep 1 already has
    the steady one-exchange shape."""
    import importlib

    from graphlab_spark import EdgeGraph
    from graphlab_spark.sources.parsers import load_synthetic_powerlaw

    # the module, not the package's re-exported pagerank function
    pr = importlib.import_module("graphlab_spark.algos.pagerank")
    plans = []
    orig = pr.run_bsp

    def spy_run_bsp(init, step, **kw):
        def spy(state, i):
            out = step(state, i)
            # planned here, under the loop's own confs
            plans.append(out[0]._jdf.queryExecution().executedPlan())
            return out
        return orig(init, spy, **kw)

    def exchanges(nodes):
        return [n.simpleString(100) for n, _ in nodes
                if n.nodeName() == "Exchange"]

    monkeypatch.setattr(pr, "run_bsp", spy_run_bsp)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # edge partitions = shuffle partitions, so the apply join reuses the
    # message aggregation's hash layout
    g = EdgeGraph(load_synthetic_powerlaw(spark, 400, seed=3))
    try:
        res = pr.pagerank(g, fixed_supersteps=2, resume=False)
        assert res.state.count() > 0
        assert "vertices" not in g.__dict__
        step0, step1 = (list(_walk_above_caches(p)) for p in plans)
        ex0 = exchanges(step0)
        ensure = [e for e in ex0 if "ENSURE_REQUIREMENTS" in e]
        assert len(ensure) == 1, ex0
        assert "hashpartitioning(dst" in ensure[0]
        rehash = [e for e in ex0 if e not in ensure]
        assert len(rehash) == 1 and "hashpartitioning(id" in rehash[0], ex0
        ex1 = exchanges(step1)
        assert len(ex1) == 1 and "hashpartitioning(dst" in ex1[0], ex1
        layout_scans = [path for n, path in step0 + step1
                        if n.nodeName() == "InMemoryTableScan"
                        and "cw" in n.simpleString(100)]
        assert len(layout_scans) == 2
        for path in layout_scans:
            above = []
            for anc in reversed(path):
                if anc.nodeName() == "SortMergeJoin":
                    break
                above.append(anc.nodeName())
            assert not {"Exchange", "Sort"} & set(above), above
    finally:
        g.unpersist()


def test_cc_superstep0_reads_symmetric_edges_from_cache(spark, monkeypatch):
    """Connected components' superstep 0 reads the ``symmetric_edges``
    view straight from its cache: no Exchange or Sort sits between the
    cache scan and the join.  The view is materialized without AQE when
    it is first accessed; a view persisted lazily under AQE is planned
    as a plan that has not run, and superstep 0 re-shuffles and
    re-sorts all 2|E| cached edges."""
    import importlib

    from graphlab_spark import EdgeGraph
    from graphlab_spark.sources.parsers import load_synthetic_powerlaw

    cc = importlib.import_module("graphlab_spark.algos.connected_components")
    plans = []
    orig = cc.run_bsp

    def spy_run_bsp(init, step, **kw):
        def spy(state, i):
            out = step(state, i)
            plans.append(out[0]._jdf.queryExecution().executedPlan())
            return out
        return orig(init, spy, **kw)

    monkeypatch.setattr(cc, "run_bsp", spy_run_bsp)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    g = EdgeGraph(load_synthetic_powerlaw(spark, 400, seed=3))
    try:
        res = cc.connected_components(g, max_supersteps=1, resume=False)
        assert res.supersteps == 1
        nodes = list(_walk_above_caches(plans[0]))
        sym_scans = [path for n, path in nodes
                     if n.nodeName() == "InMemoryTableScan"
                     and "src" in n.simpleString(100)]
        assert sym_scans
        for path in sym_scans:
            above = []
            for anc in reversed(path):
                if anc.nodeName() == "SortMergeJoin":
                    break
                above.append(anc.nodeName())
            assert not {"Exchange", "Sort"} & set(above), above
    finally:
        g.unpersist()


def test_run_bsp_keeps_caller_caches(spark):
    """run_bsp unpersists only what it cached itself: an initial state
    or a layout that the caller had cached (an EdgeGraph view, say)
    stays cached after the loop, while a layout the loop cached is
    dropped."""
    from graphlab_spark.plans.superstep import run_bsp

    state = spark.range(50).select("id", (F.col("id") % 7).alias("v")).persist()
    mine = spark.range(50).select(F.col("id").alias("src")).persist()
    loops = spark.range(50).select((F.col("id") * 2).alias("src"))
    seen = []

    def step(s, i):
        seen.append(loops.storageLevel.useMemory)
        joined = s.join(mine, s["id"] == mine["src"]).join(
            loops, s["id"] == loops["src"], "left_semi")
        return joined.select("id", (F.col("v") + 1).alias("v")), {}, False

    try:
        res = run_bsp(state, step, max_supersteps=2, layouts=[mine, loops])
        assert res.supersteps == 2 and seen == [True, True]
        assert state.storageLevel.useMemory
        assert mine.storageLevel.useMemory
        assert not loops.storageLevel.useMemory
        assert res.state.count() == 25
    finally:
        state.unpersist()
        mine.unpersist()
