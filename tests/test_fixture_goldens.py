"""Golden-value tests on the reference micro-fixture graph (FIXTURES.md §3-4).

Expected values are hand-derived from the reference toolkits' semantics
(pagerank.cpp, connected_component.cpp, label_propagation.cpp,
simple_undirected_triangle_count.cpp, sssp.cpp, kcore.cpp).
"""

import math

import pytest

from graphlab_spark import EdgeGraph
from graphlab_spark.plans import CheckpointManager
from graphlab_spark.algos import (
    component_size_histogram,
    connected_components,
    kcore_table,
    label_propagation,
    pagerank,
    sssp,
    total_rank,
    triangle_count_per_vertex,
    triangle_count_total,
)

GOLDEN_PR = {0: 0.34125, 1: 0.15, 2: 0.15, 3: 0.15, 5: 0.6313125}


def test_pagerank_golden(fixture_graph):
    res = pagerank(fixture_graph, tol=1e-9)
    assert res.converged
    got = {r.id: r.rank for r in res.state.collect()}
    assert set(got) == set(GOLDEN_PR)
    for k, v in GOLDEN_PR.items():
        assert got[k] == pytest.approx(v, abs=1e-6)
    # Unnormalized: total rank != |V| (no dangling redistribution).
    assert total_rank(res.state) == pytest.approx(sum(GOLDEN_PR.values()), abs=1e-6)


def _assert_golden_pr(state):
    got = {r.id: r.rank for r in state.collect()}
    assert set(got) == set(GOLDEN_PR)
    for k, v in GOLDEN_PR.items():
        assert got[k] == pytest.approx(v, abs=1e-6)


# Vertex 5 has only in-edges and 1-3 only out-edges: the state starts
# from the out-degree ids, and superstep 0 must add vertex 5 (tolerance
# mode above, fixed mode here).
def test_pagerank_fixed_iterations(fixture_graph):
    _assert_golden_pr(pagerank(fixture_graph, fixed_supersteps=30).state)


def test_pagerank_resume_from_superstep0_checkpoint(fixture_graph, tmp_path):
    ck = str(tmp_path / "ck")
    first = pagerank(fixture_graph, max_supersteps=1,
                     checkpoint=CheckpointManager(ck, every=1), resume=False)
    assert first.supersteps == 1 and not first.converged
    assert {r.id for r in first.state.collect()} == set(GOLDEN_PR)
    res = pagerank(fixture_graph, tol=1e-9,
                   checkpoint=CheckpointManager(ck, every=1), resume=True)
    assert res.converged and res.history[0]["superstep"] == 1
    _assert_golden_pr(res.state)


def test_connected_components_golden(fixture_graph):
    res = connected_components(fixture_graph)
    assert res.converged
    got = {r.id: r.component for r in res.state.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 5: 0}
    hist = {r.size: r.n_components for r in component_size_histogram(res.state).collect()}
    assert hist == {5: 1}


def test_triangles_golden(fixture_graph):
    assert triangle_count_total(fixture_graph) == 3
    got = {r.id: r.triangles for r in triangle_count_per_vertex(fixture_graph).collect()}
    assert got == {0: 3, 5: 3, 1: 1, 2: 1, 3: 1}
    assert sum(got.values()) == 3 * 3  # each triangle has 3 corners


def test_sssp_golden(fixture_graph):
    und = sssp(fixture_graph, [0], directed=False)
    assert {r.id: r.distance for r in und.state.collect()} == {
        0: 0.0, 1: 1.0, 2: 1.0, 3: 1.0, 5: 1.0,
    }
    dir_ = sssp(fixture_graph, [0], directed=True)
    got = {r.id: r.distance for r in dir_.state.collect()}
    assert got[0] == 0.0 and got[5] == 1.0
    assert all(math.isinf(got[v]) for v in (1, 2, 3))


def test_kcore_golden(fixture_graph):
    table = kcore_table(fixture_graph, 1, 4)
    assert table[0] == {"k": 1, "vertices": 5, "edges": 7}
    assert table[1] == {"k": 2, "vertices": 5, "edges": 7}
    assert table[2] == {"k": 3, "vertices": 0, "edges": 0}


def test_lpa_golden(spark):
    # FIXTURES.md §4: reference LPA input `vid label nbr...` fixture.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)], "src long, dst long"
    )
    seeds = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "c"), (6, "c")], "id long, label string"
    )
    g = EdgeGraph(edges, num_edge_partitions=4)
    res = label_propagation(g, initial_labels=seeds)
    assert res.converged
    got = {r.id: r.label for r in res.state.collect()}
    assert got == {1: "a", 2: "a", 3: "a", 4: "c", 5: "c", 6: "c"}
    g.unpersist()


def test_lpa_tie_breaks_to_smallest_label(spark):
    # v0's neighbors carry labels {b, a} with equal counts -> 'a' wins
    # (strict-> over the key-ordered map, label_propagation.cpp:104-128).
    edges = spark.createDataFrame([(1, 0), (2, 0)], "src long, dst long")
    seeds = spark.createDataFrame(
        [(0, "z"), (1, "b"), (2, "a")], "id long, label string"
    )
    g = EdgeGraph(edges, num_edge_partitions=2)
    res = label_propagation(g, initial_labels=seeds, max_supersteps=1)
    got = {r.id: r.label for r in res.state.collect()}
    assert got[0] == "a"
    g.unpersist()


def test_sssp_parent_tracking_and_path(fixture_graph):
    from graphlab_spark.algos.sssp import extract_path, sssp
    res = sssp(fixture_graph, sources=[0], directed=False,
               track_parent=True, resume=False)
    st = {r["id"]: (r["distance"], r["parent"]) for r in res.state.collect()}
    assert st[0] == (0.0, None)
    # every other vertex is 1 hop from 0 with parent 0
    for v in (1, 2, 3, 5):
        assert st[v] == (1.0, 0)
    assert extract_path(res.state, 3) == [0, 3]
    assert extract_path(res.state, 0) == [0]


def test_sssp_path_directed(fixture_graph):
    from graphlab_spark.algos.sssp import extract_path, sssp
    res = sssp(fixture_graph, sources=[1], directed=True,
               track_parent=True, resume=False)
    assert extract_path(res.state, 5) == [1, 5]
    assert extract_path(res.state, 2) == []  # unreachable


def test_approx_diameter_fixture(fixture_graph):
    """Directed fixture reaches everything within <=2 hops of growth
    (x->{0,5}->5); the FM estimate must stop growing by then."""
    from graphlab_spark.algos.diameter import approx_diameter
    out = approx_diameter(fixture_graph)
    assert 1 <= out["diameter"] <= 3
    assert len(out["history"]) == out["diameter"] + 1
    # reached-pairs estimates are monotonically non-decreasing
    assert all(b >= a * 0.999 for a, b in zip(out["history"], out["history"][1:]))


def test_approx_diameter_path_graph(spark):
    """A directed 6-path has diameter 5; FM growth must continue ~5
    supersteps (estimate, so allow +-1)."""
    from graphlab_spark import EdgeGraph
    from graphlab_spark.algos.diameter import approx_diameter
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long")
    g = EdgeGraph(edges, num_edge_partitions=2)
    out = approx_diameter(g)
    assert 4 <= out["diameter"] <= 6
    g.unpersist()


def test_sssp_weighted_edges(spark):
    """Weighted SSSP: 0-1 (w=5) vs 0-2-1 (w=1+1) must prefer the
    2-hop path (sssp.cpp --weights analog)."""
    from graphlab_spark import EdgeGraph
    from graphlab_spark.algos.sssp import sssp
    edges = spark.createDataFrame(
        [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0)], "src long, dst long, w double")
    g = EdgeGraph(edges, num_edge_partitions=2)
    st = {r["id"]: r["distance"]
          for r in sssp(g, sources=[0], directed=True, weight_col="w",
                        resume=False).state.collect()}
    assert st == {0: 0.0, 2: 1.0, 1: 2.0}
    g.unpersist()


def test_lpa_frontier_schedule_matches_dense(spark):
    """Frontier-pruned gather (recompute only destinations with a
    changed neighbor) must be bit-identical to the dense schedule,
    superstep for superstep, on a graph with a long convergence tail."""
    from graphlab_spark.sources.parsers import load_synthetic_powerlaw

    g = EdgeGraph(load_synthetic_powerlaw(spark, 400, seed=7),
                  num_edge_partitions=8)
    dense = label_propagation(g, max_supersteps=20, resume=False)
    frontier = label_propagation(g, max_supersteps=20, resume=False,
                                 schedule="frontier")
    d = {r.id: r.label for r in dense.state.collect()}
    f = {r.id: r.label for r in frontier.state.collect()}
    assert f == d
    assert frontier.supersteps == dense.supersteps
    assert frontier.converged == dense.converged
    # same per-superstep active counts — the schedules walk in lockstep
    assert ([h["active"] for h in frontier.history]
            == [h["active"] for h in dense.history])
    # the frontier run's late supersteps touch a shrinking active set
    actives = [h["active"] for h in frontier.history]
    assert actives[-1] < actives[0]
    g.unpersist()


def test_lpa_frontier_golden(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)],
        "src long, dst long")
    seeds = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "c"), (6, "c")],
        "id long, label string")
    g = EdgeGraph(edges, num_edge_partitions=4)
    res = label_propagation(g, initial_labels=seeds, schedule="frontier")
    assert res.converged
    got = {r.id: r.label for r in res.state.collect()}
    assert got == {1: "a", 2: "a", 3: "a", 4: "c", 5: "c", 6: "c"}
    assert res.state.columns == ["id", "label"]
    g.unpersist()
