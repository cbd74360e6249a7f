"""The numpy oracles against plain-Python reference loops."""

import itertools

import numpy as np

import gen
import oracles


def test_triangle_count_matches_brute_force():
    rng = np.random.default_rng(0)
    for _ in range(20):
        src = rng.integers(0, 25, 100) * 3 - 40
        dst = rng.integers(0, 25, 100) * 3 - 40
        adj = {(min(a, b), max(a, b)) for a, b in zip(src, dst) if a != b}
        nodes = sorted({x for e in adj for x in e})
        want = sum((a, b) in adj and (b, c) in adj and (a, c) in adj
                   for a, b, c in itertools.combinations(nodes, 3))
        assert oracles.triangle_count(src, dst) == want


def test_pagerank_matches_loop():
    src = np.array([1, 2, 2, 3, 3, 3, 5, 5, 1])
    dst = np.array([2, 3, 3, 1, 5, 5, 1, 5, 2])  # dup edges kept, loop dropped
    ids, rank = oracles.pagerank(src, dst, 4)
    edges = [(a, b) for a, b in zip(src, dst) if a != b]
    verts = sorted({x for e in edges for x in e})
    out = {v: sum(a == v for a, _ in edges) for v in verts}
    r = {v: 1.0 for v in verts}
    for _ in range(4):
        r = {v: 0.15 + 0.85 * sum(r[a] / out[a] for a, b in edges if b == v)
             for v in verts}
    assert ids.tolist() == verts
    assert np.allclose(rank, [r[v] for v in verts], rtol=1e-12)


def test_event_edges_match_loop_and_triangles_are_same_type_neighbours():
    ev = gen.generate("events_ingest", 2, 0.002)["events"]
    src, dst = oracles.event_edges(ev)
    rows = sorted(zip(ev["user_id"].tolist(), ev["ts"].tolist(),
                      ev["event_id"].tolist(), ev["event_type"].tolist()))
    types = sorted(set(ev["event_type"].tolist()))
    seq = [(a[2], b[2]) for a, b in zip(rows, rows[1:]) if a[0] == b[0]]
    hub = [(r[2], -(types.index(r[3]) + 1)) for r in rows]
    assert sorted(zip(src.tolist(), dst.tolist())) == sorted(seq + hub)
    # in this edge family a triangle is two consecutive same-type events
    # of one user plus their type hub
    same = sum(a[0] == b[0] and a[3] == b[3] for a, b in zip(rows, rows[1:]))
    assert oracles.triangle_count(src, dst) == same
