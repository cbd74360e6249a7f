"""Delta-cached dynamic PageRank (post_delta gather caching).

Reference semantics: ``icontext.hpp:254`` (post_delta),
``pagerank.cpp:124-127`` (delta-cache scatter); we implement the
corrected fixpoint-preserving form (delta scaled by the gather's
1/out_degree edge weight, signal only above tolerance) — see the
``_pagerank_delta`` docstring for the documented deviation.
"""

import pytest

from graphlab_spark import EdgeGraph
from graphlab_spark.algos import pagerank

GOLDEN_PR = {0: 0.34125, 1: 0.15, 2: 0.15, 3: 0.15, 5: 0.6313125}


def test_delta_cache_matches_golden(fixture_graph):
    res = pagerank(fixture_graph, tol=1e-9, delta_cache=True)
    assert res.converged
    got = {r.id: r.rank for r in res.state.collect()}
    assert set(got) == set(GOLDEN_PR)
    for k, v in GOLDEN_PR.items():
        assert got[k] == pytest.approx(v, abs=1e-6)


def test_delta_cache_matches_full_gather(spark):
    """On a synthetic power-law graph the delta-cached fixpoint must
    agree with the full-gather tolerance mode to within the dropped
    below-tolerance mass."""
    from graphlab_spark.sources import load_synthetic_powerlaw

    edges = load_synthetic_powerlaw(spark, 300, alpha=2.0, seed=7)
    g = EdgeGraph(edges, num_edge_partitions=4)
    try:
        full = pagerank(g, tol=1e-9, resume=False)
        delta = pagerank(g, tol=1e-9, delta_cache=True, resume=False)
        ref = {r.id: r.rank for r in full.state.collect()}
        got = {r.id: r.rank for r in delta.state.collect()}
        assert set(got) == set(ref)
        worst = max(abs(got[k] - ref[k]) for k in ref)
        assert worst < 1e-6
    finally:
        g.unpersist()


def test_delta_cache_frontier_shrinks(spark):
    """The whole point of the cache: the active frontier must shrink
    monotonically toward 0 instead of re-gathering |E| every round."""
    from graphlab_spark.sources import load_synthetic_powerlaw

    edges = load_synthetic_powerlaw(spark, 300, alpha=2.0, seed=7)
    g = EdgeGraph(edges, num_edge_partitions=4)
    try:
        res = pagerank(g, tol=1e-6, delta_cache=True, resume=False)
        assert res.converged
        actives = [h["active"] for h in res.history]
        assert actives[-1] == 0
        # Late-phase frontier is a small fraction of the vertex set.
        n = g.vertices.count()
        assert actives[-2] < n / 2
    finally:
        g.unpersist()


def test_delta_cache_rejects_bad_combos(fixture_graph):
    with pytest.raises(ValueError):
        pagerank(fixture_graph, delta_cache=True, fixed_supersteps=3)


def test_pagerank_zero_fixed_supersteps(fixture_graph):
    """pagerank(fixed_supersteps=0): zero superstep jobs, init ranks
    for EVERY vertex — including vertex 5, which has only in-edges and
    so is not among the out-degree ids a running superstep starts from."""
    from graphlab_spark.algos.pagerank import pagerank
    res = pagerank(fixture_graph, fixed_supersteps=0)
    assert res.supersteps == 0
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    assert got == {v: 1.0 for v in GOLDEN_PR}
