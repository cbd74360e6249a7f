"""Generator determinism and the verified input cache."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen

SCALE = 0.002


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_input_other_seed_differs(workload):
    a = gen.generate(workload, 7, SCALE)
    b = gen.generate(workload, 7, SCALE)
    c = gen.generate(workload, 8, SCALE)
    tables = lambda d: {k: v for k, v in d.items() if k != "truth"}  # noqa: E731
    assert gen.fingerprint(tables(a)) == gen.fingerprint(tables(b))
    assert gen.fingerprint(tables(a)) != gen.fingerprint(tables(c))


def test_chains_truth_is_min_id_of_each_path():
    d = gen.generate("cc_chains", 3, 0.05)
    src, dst = d["edges"]["src"], d["edges"]["dst"]
    ids, comp = d["truth"]["id"], d["truth"]["component"]
    assert len(np.unique(ids)) == len(ids)
    label = dict(zip(ids.tolist(), ids.tolist()))
    changed = True
    while changed:  # plain hash-min to fixpoint
        changed = False
        for u, v in zip(src.tolist(), dst.tolist()):
            m = min(label[u], label[v])
            if label[u] != m or label[v] != m:
                label[u] = label[v] = m
                changed = True
    assert [label[i] for i in ids.tolist()] == comp.tolist()
    sizes = np.unique(comp, return_counts=True)[1]
    assert sizes.min() >= 8 and sizes.max() <= 32


def test_cache_reuses_verified_entry_and_replaces_a_corrupt_one(tmp_path):
    path, data, meta = gen.materialize(str(tmp_path), "events_ingest", 5, SCALE)
    _, again, meta2 = gen.materialize(str(tmp_path), "events_ingest", 5, SCALE)
    assert meta2 == meta
    assert gen.fingerprint(again) == meta["fingerprint"]
    # a truncated table (e.g. an interrupted write) must not be reused
    t = pq.read_table(os.path.join(path, "events.parquet"))
    pq.write_table(t.slice(0, t.num_rows // 2), os.path.join(path, "events.parquet"))
    _, fixed, meta3 = gen.materialize(str(tmp_path), "events_ingest", 5, SCALE)
    assert meta3["fingerprint"] == meta["fingerprint"]
    assert len(fixed["events"]["event_id"]) == meta["rows"]["events"]
    assert [p for p in os.listdir(tmp_path) if p.startswith(".")] == []


def test_cache_keeps_only_the_newest_entries_per_workload(tmp_path):
    for seed in range(4):
        gen.materialize(str(tmp_path), "cc_chains", seed, SCALE)
    gen.materialize(str(tmp_path), "events_ingest", 0, SCALE)
    gen._prune(str(tmp_path), "cc_chains-", keep=2)
    names = sorted(os.listdir(tmp_path))
    assert [n.split("-")[1] for n in names if n.startswith("cc_chains-")] == ["s2", "s3"]
    assert sum(n.startswith("events_ingest-") for n in names) == 1
