"""Independent numpy oracles for the three workloads.

None of these call the program or reuse its SQL: the event-log edge
derivation is re-implemented here from the ``events`` contract (sequence
edges between a user's consecutive events under ``(ts, event_id)``
order, hub edges from each event to ``-rank(event_type)``), and the
graph algorithms are textbook array code.
"""

from __future__ import annotations

import numpy as np

BASE, DAMPING = 0.15, 0.85


def _dense(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``np.unique(x, return_inverse=True)``; through a presence bitmap
    when the ids are small non-negative integers, which avoids a sort."""
    if len(x) and x.min() >= 0 and x.max() < 4 * len(x):
        present = np.zeros(int(x.max()) + 1, dtype=bool)
        present[x] = True
        return np.flatnonzero(present), (np.cumsum(present) - 1)[x]
    return np.unique(x, return_inverse=True)


def pagerank(src: np.ndarray, dst: np.ndarray, iterations: int
             ) -> tuple[np.ndarray, np.ndarray]:
    """Jacobi PageRank without normalisation or dangling redistribution:
    ``rank = 0.15 + 0.85 * sum(rank[u] / outdeg[u])`` from rank 1.0.
    Self-loops are dropped and duplicate edges kept, as the engine does.
    Returns ``(vertex ids ascending, ranks)`` over every edge endpoint."""
    keep = src != dst
    ids, inv = _dense(np.concatenate([src[keep], dst[keep]]))
    s, d = inv[: keep.sum()], inv[keep.sum():]
    outdeg = np.bincount(s, minlength=len(ids)).astype(np.float64)
    rank = np.ones(len(ids))
    for _ in range(iterations):
        total = np.bincount(d, weights=rank[s] / outdeg[s], minlength=len(ids))
        rank = BASE + DAMPING * total
    return ids, rank


def event_edges(events: dict) -> tuple[np.ndarray, np.ndarray]:
    """Directed (src, dst) edges induced by an event log."""
    uid, ts, eid = events["user_id"], events["ts"], events["event_id"]
    order = np.lexsort((eid, ts, uid))
    same_user = uid[order][:-1] == uid[order][1:]
    seq_src = eid[order][:-1][same_user]
    seq_dst = eid[order][1:][same_user]
    names, type_rank = np.unique(events["event_type"], return_inverse=True)
    hub_dst = -(type_rank.astype(np.int64) + 1)
    return (np.concatenate([seq_src, eid]).astype(np.int64),
            np.concatenate([seq_dst, hub_dst]).astype(np.int64))


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Exact undirected triangle count of the simple graph underlying
    ``(src, dst)``: each wedge at its lowest-(degree, id) vertex, closed
    by a lookup in the sorted canonical edge keys."""
    keep = src != dst
    ids, inv = _dense(np.concatenate([src[keep], dst[keep]]))
    n, m = len(ids), int(keep.sum())
    a, b = inv[:m], inv[m:]
    keys = np.unique(np.minimum(a, b).astype(np.int64) * n + np.maximum(a, b))
    lo, hi = keys // n, keys % n
    deg = np.bincount(np.concatenate([lo, hi]), minlength=n)
    lo_first = (deg[lo] < deg[hi]) | ((deg[lo] == deg[hi]) & (lo < hi))
    u = np.where(lo_first, lo, hi)
    v = np.where(lo_first, hi, lo)
    order = np.argsort(u, kind="stable")
    u, v = u[order], v[order]
    ends = np.searchsorted(u, u, side="right")
    partners = ends - np.arange(len(u)) - 1   # later out-edges of the same u
    first = np.repeat(np.arange(len(u)), partners)
    run_start = np.repeat(np.cumsum(partners) - partners, partners)
    second = first + 1 + (np.arange(len(first)) - run_start)
    x, y = v[first], v[second]
    wedge = np.minimum(x, y).astype(np.int64) * n + np.maximum(x, y)
    pos = np.searchsorted(keys, wedge)
    pos[pos == len(keys)] = 0
    return int((keys[pos] == wedge).sum()) if len(keys) else 0


def allclose_ranks(got_ids: np.ndarray, got: np.ndarray,
                   want_ids: np.ndarray, want: np.ndarray) -> bool:
    order = np.argsort(got_ids)
    return (len(got_ids) == len(want_ids)
            and np.array_equal(got_ids[order], want_ids)
            and np.allclose(got[order], want, rtol=1e-9, atol=1e-12))


def components_equal(got_ids: np.ndarray, got: np.ndarray,
                     want_ids: np.ndarray, want: np.ndarray) -> bool:
    go, wo = np.argsort(got_ids), np.argsort(want_ids)
    return (len(got_ids) == len(want_ids)
            and np.array_equal(got_ids[go], want_ids[wo])
            and np.array_equal(got[go], want[wo]))
