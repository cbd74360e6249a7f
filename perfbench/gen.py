"""Seeded input generators and the verified on-disk input cache.

Every workload input is generated here, in numpy, from the ``--seed``
argument alone.  Nothing in ``graphlab_spark`` is called, so a change to
the program can never silently change what the benchmark feeds it.

Each generator returns plain numpy arrays plus the ground truth the
oracles need that is cheapest to keep from generation time (the path
membership of ``cc_chains``).  ``materialize`` writes the tables as
parquet (and the truth as ``.npz``) into
``<cache>/<workload>-s<seed>-<size params>`` through a temporary directory
that is renamed into place only once complete, and a reused entry is
accepted only if its recorded row counts and its checksum over every
array still match the files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes.  pagerank_8m: |E| large enough that per-edge gather,
# shuffle and join work outweighs the fixed per-superstep driver cost.
# cc_chains: many short paths, so the active frontier collapses after a
# few supersteps and the fixed per-superstep cost dominates; small enough
# that per-task work does not hide the driver's share.  events_ingest: an
# event log big enough that the parquet write/read path and the one-shot
# triangle join take measurable time.  Each is also capped so that one
# fresh-JVM trial stays well under a minute on a 4-core box.
SIZES = {
    "pagerank_8m": {"vertices": 500_000, "edges": 8_000_000},
    "cc_chains": {"vertices": 20_000, "min_len": 8, "max_len": 32},
    "events_ingest": {"events": 150_000, "users": 10_000, "types": 16},
}

EVENT_TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Cache entries kept per workload: enough for one ten-seed set to hit the
# cache when it is run again, few enough to bound the disk it takes.
CACHE_KEEP = 12


def _zipf(n: int, exponent: float, size: int,
          rng: np.random.Generator) -> np.ndarray:
    """``size`` draws from a continuous power law ``p(r) ~ r**-exponent``
    over ranks ``1..n`` (inverse-CDF sampling), mapped to item ids through
    a random permutation so that hubs are not the smallest ids."""
    perm = rng.permutation(n)
    u = rng.random(size)
    if exponent == 1.0:
        r = np.exp(u * np.log(n + 1.0))
    else:
        k = 1.0 - exponent
        r = (1.0 + u * ((n + 1.0) ** k - 1.0)) ** (1.0 / k)
    return perm[np.clip(r.astype(np.int64) - 1, 0, n - 1)]


def chung_lu(seed: int, vertices: int, edges: int) -> dict:
    """Directed Chung-Lu graph: mild power-law out-degrees, Zipf in-degree
    hubs.  Self-loops are removed; duplicate edges are kept."""
    rng = np.random.default_rng([seed, 1])
    src = _zipf(vertices, 0.5, edges, rng).astype(np.int64)
    dst = _zipf(vertices, 0.8, edges, rng).astype(np.int64)
    keep = src != dst
    return {"edges": {"src": src[keep], "dst": dst[keep]}}


def chains(seed: int, vertices: int, min_len: int, max_len: int) -> dict:
    """Disjoint paths of ``min_len..max_len`` vertices with random sparse
    ids and random edge directions, the first of them ``max_len`` long.
    ``truth.component`` is the minimum id of each vertex's path, aligned
    with ``truth.id``."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(min_len, max_len + 1, size=vertices // min_len + 1)
    lens = lens[: np.searchsorted(np.cumsum(lens), vertices, side="right")]
    lens[0] = max_len
    n = int(lens.sum())
    # unique random ids: a permutation spread over a sparse id space
    ids = rng.permutation(n).astype(np.int64) * 1024 + rng.integers(0, 1024, n)
    path = np.repeat(np.arange(len(lens)), lens)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    # one longest path with its minimum at an end pins the superstep count
    # (max_len - 1 hops, plus the superstep that sees no change) for
    # every seed
    first = ids[:max_len]
    j = np.argmin(first)
    first[0], first[j] = first[j], first[0]
    comp = np.minimum.reduceat(ids, starts)[path]
    same = path[:-1] == path[1:]
    a, b = ids[:-1][same], ids[1:][same]
    flip = rng.random(len(a)) < 0.5
    src = np.where(flip, b, a)
    dst = np.where(flip, a, b)
    order = rng.permutation(len(src))
    return {
        "edges": {"src": src[order], "dst": dst[order]},
        "truth": {"id": ids, "component": comp},
    }


def event_log(seed: int, events: int, users: int, types: int) -> dict:
    """An ``events(event_id, ts, user_id, event_type, value, props)`` log:
    heavy-tailed users, Zipf event types, shuffled row order."""
    rng = np.random.default_rng([seed, 3])
    user = _zipf(users, 1.0, events, rng)
    etype = _zipf(types, 1.1, events, rng)
    # ~1 event/s on average over the log's span, microsecond resolution;
    # collisions on ts are resolved by event_id, as the program orders
    ts = EVENT_TS0_US + rng.integers(0, events * 1_000_000, events)
    value = np.round(rng.random(events) * 50.0, 2)
    k = rng.integers(0, 100, events)
    order = rng.permutation(events)
    names = np.array([f"type_{i:02d}" for i in range(types)], dtype=object)
    return {
        "events": {
            "event_id": np.arange(events, dtype=np.int64)[order],
            "ts": ts[order],
            "user_id": user[order].astype(np.int64),
            "event_type": names[etype[order]],
            "value": value[order],
            "props": np.array([f'{{"k": {x}}}' for x in k[order]], dtype=object),
        }
    }


GENERATORS = {
    "pagerank_8m": chung_lu,
    "cc_chains": chains,
    "events_ingest": event_log,
}


def params(workload: str, scale: float = 1.0) -> dict:
    """The generator's size parameters.  ``scale`` shrinks the counts
    (tests use a tiny scale; the benchmark uses 1)."""
    p = dict(SIZES[workload])
    for key in ("vertices", "edges", "events", "users"):
        if key in p:
            p[key] = max(16, int(p[key] * scale))
    return p


def generate(workload: str, seed: int, scale: float = 1.0) -> dict:
    """Generate the workload's tables in memory."""
    return GENERATORS[workload](seed, **params(workload, scale))


def _arrow(name: str, cols: dict) -> pa.Table:
    if name == "events":
        return pa.table({
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        })
    return pa.table({k: pa.array(v) for k, v in cols.items()})


def fingerprint(tables: dict) -> str:
    """sha256 over every column's bytes, in table and column order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        for col in sorted(tables[name]):
            arr = tables[name][col]
            h.update(f"{name}.{col}:{len(arr)}".encode())
            if arr.dtype == object:
                h.update("\x00".join(arr.tolist()).encode())
            else:
                h.update(np.ascontiguousarray(arr).tobytes())
    return h.hexdigest()


def _read_back(path: str, names: list[str]) -> dict:
    out = {}
    for name in names:
        t = pq.read_table(os.path.join(path, f"{name}.parquet"))
        cols = {}
        for col in t.column_names:
            c = t.column(col)
            if pa.types.is_timestamp(c.type):
                c = c.cast(pa.int64())
            cols[col] = (c.to_numpy(zero_copy_only=False)
                         if not pa.types.is_string(c.type)
                         else np.array(c.to_pylist(), dtype=object))
        out[name] = cols
    return out


def _meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "meta.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def materialize(cache_dir: str, workload: str, seed: int,
                scale: float = 1.0) -> tuple[str, dict, dict]:
    """Return ``(dir, data, meta)`` for the workload's inputs, generating
    them unless a verified cache entry exists.  ``dir`` holds one
    ``<table>.parquet`` file per table plus ``meta.json``."""
    size = "-".join(f"{k}{v}" for k, v in sorted(params(workload, scale).items()))
    key = f"{workload}-s{seed}-{size}"
    path = os.path.join(cache_dir, key)
    meta = _meta(path)
    if meta is not None:
        data = _read_back(path, sorted(meta["rows"]))
        rows = {n: len(next(iter(c.values()))) for n, c in data.items()}
        if meta["truth"]:
            data["truth"] = dict(np.load(os.path.join(path, "truth.npz")))
        if rows == meta["rows"] and fingerprint(data) == meta["fingerprint"]:
            return path, data, meta
        shutil.rmtree(path)  # stale or corrupt entry: regenerate
    data = generate(workload, seed, scale)
    tables = {n: c for n, c in data.items() if n != "truth"}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{key}.", dir=cache_dir)
    try:
        for name, cols in tables.items():
            pq.write_table(_arrow(name, cols),
                           os.path.join(tmp, f"{name}.parquet"))
        if "truth" in data:
            np.savez(os.path.join(tmp, "truth.npz"), **data["truth"])
        meta = {
            "workload": workload, "seed": seed, "scale": scale,
            "rows": {n: len(next(iter(c.values()))) for n, c in tables.items()},
            "fingerprint": fingerprint(data),
            "truth": "truth" in data,
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        try:
            os.rename(tmp, path)
        except OSError:  # a concurrent run renamed its copy in first
            if _meta(path) is None:
                raise
            shutil.rmtree(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    _prune(cache_dir, f"{workload}-")
    return path, data, meta


def _prune(cache_dir: str, prefix: str, keep: int = CACHE_KEEP) -> None:
    """Drop all but the ``keep`` newest entries starting with ``prefix``."""
    entries = sorted((e for e in os.scandir(cache_dir)
                      if e.is_dir() and e.name.startswith(prefix)),
                     key=lambda e: e.stat().st_mtime)
    for e in entries[:-keep]:
        shutil.rmtree(e.path, ignore_errors=True)
