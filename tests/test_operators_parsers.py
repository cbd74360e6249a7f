"""Graph data-management operators (SURVEY §2.1-2.4) + determinism.

Parser goldens use the reference's own fixture graph rendered in each
text format (reference ``tests/data/test_{tsv,snap,adj}``, FIXTURES.md
§3); operator tests assert reference semantics (vertex-set algebra,
subset-scoped transforms, injective join validation, salted vs plain
aggregation equality); the determinism tests assert the SURVEY §5
promise that results are identical across parallelism levels.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphlab_spark import EdgeGraph
from graphlab_spark.operators.aggregates import (
    AggregatorRegistry,
    argmax_vertex,
    histogram,
    map_reduce_edges,
    map_reduce_vertices,
)
from graphlab_spark.operators.join_ops import injective_vertex_join
from graphlab_spark.operators.vertex_ops import (
    select_vertices,
    transform_vertices,
    vset_intersect,
    vset_invert,
    vset_minus,
    vset_union,
)
from graphlab_spark.sources.parsers import (
    load_format,
    load_synthetic_powerlaw,
    save_edges,
)

FIXTURE = {(0, 5), (1, 0), (1, 5), (2, 0), (2, 5), (3, 0), (3, 5)}


# -- parsers -----------------------------------------------------------------

def test_snap_parser(spark, tmp_path):
    p = tmp_path / "g.snap"
    p.write_text("# comment line\n0\t5\n1\t0\n1\t5\n2\t0\n2\t5\n3\t0\n3\t5\n4\t4\n")
    got = {(r.src, r.dst) for r in load_format(spark, str(p), "snap").collect()}
    assert got == FIXTURE  # comment skipped, self-loop 4->4 dropped


def test_tsv_csv_parsers(spark, tmp_path):
    t = tmp_path / "g.tsv"
    t.write_text("".join(f"{s}\t{d}\n" for s, d in sorted(FIXTURE)))
    c = tmp_path / "g.csv"
    c.write_text("".join(f"{s},{d}\n" for s, d in sorted(FIXTURE)))
    assert {(r.src, r.dst) for r in load_format(spark, str(t), "tsv").collect()} == FIXTURE
    assert {(r.src, r.dst) for r in load_format(spark, str(c), "csv").collect()} == FIXTURE


def test_adj_parser(spark, tmp_path):
    # reference adj format: src n tgt1 ... tgtn (builtin_parsers.hpp:119-142)
    p = tmp_path / "g.adj"
    p.write_text("0 1 5\n1 2 0 5\n2 2 0 5\n3 2 0 5\n")
    got = {(r.src, r.dst) for r in load_format(spark, str(p), "adj").collect()}
    assert got == FIXTURE


def test_adj_parser_skips_lines_without_readable_n(spark, tmp_path):
    """A lone source token (or non-numeric n) makes the reference's
    ``strm >> n`` fail, which silently skips the line rather than
    aborting (builtin_parsers.hpp:129-130) — strict mode must not be
    stricter than the reference here."""
    p = tmp_path / "g.adj"
    p.write_text("0 1 5\n7\n1 2 0 5\nx y\n2 2 0 5\n3 2 0 5\n")
    got = {(r.src, r.dst)
           for r in load_format(spark, str(p), "adj").collect()}
    assert got == FIXTURE
    # a readable-but-wrong n still aborts in strict mode
    bad = tmp_path / "bad.adj"
    bad.write_text("0 3 5\n")
    with pytest.raises(ValueError, match="adj parse failure"):
        load_format(spark, str(bad), "adj")


def test_format_convert_roundtrip(spark, tmp_path):
    """The reference's format_convert tool: load any -> save any
    (format_convert.cpp:24-81)."""
    src = tmp_path / "in.tsv"
    src.write_text("".join(f"{s}\t{d}\n" for s, d in sorted(FIXTURE)))
    edges = load_format(spark, str(src), "tsv")
    out = tmp_path / "out.parquet"
    save_edges(edges, str(out), "parquet")
    again = load_format(spark, str(out), "parquet")
    assert {(r.src, r.dst) for r in again.collect()} == FIXTURE


def test_synthetic_powerlaw_is_deterministic_and_skewed(spark):
    a = load_synthetic_powerlaw(spark, 500)
    b = load_synthetic_powerlaw(spark, 500)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    degs = [r["cnt"] for r in
            a.groupBy("src").agg(F.count("*").alias("cnt")).collect()]
    assert max(degs) >= 10 * (sum(degs) / len(degs))  # heavy tail exists


# -- vertex set algebra + transforms ----------------------------------------

def test_vset_algebra(fixture_graph):
    g = fixture_graph
    srcs = select_vertices(
        g.out_degrees.withColumnRenamed("out_degree", "d"), F.col("d") > 0)
    dsts = g.in_degrees.select("id")
    ids = lambda df: {r["id"] for r in df.collect()}  # noqa: E731
    assert ids(vset_intersect(srcs, dsts)) == {0}
    assert ids(vset_union(srcs, dsts)) == {0, 1, 2, 3, 5}
    assert ids(vset_minus(srcs, dsts)) == {1, 2, 3}
    assert ids(vset_invert(srcs, fixture_graph)) == {5}


def test_transform_vertices_subset_scope(spark, fixture_graph):
    verts = fixture_graph.vertices.select("id", F.lit(1.0).alias("x"))
    subset = spark.createDataFrame([(0,), (5,)], "id long")
    out = transform_vertices(verts, {"x": F.col("x") * 10}, vertex_set=subset)
    got = {r["id"]: r["x"] for r in out.collect()}
    assert got == {0: 10.0, 5: 10.0, 1: 1.0, 2: 1.0, 3: 1.0}


def test_neighbors_directions(fixture_graph):
    seed = fixture_graph.vertices.filter(F.col("id") == 1)
    ids = lambda df: {r["id"] for r in df.collect()}  # noqa: E731
    assert ids(fixture_graph.neighbors(seed, "out")) == {0, 5}
    assert ids(fixture_graph.neighbors(seed, "in")) == set()
    assert ids(fixture_graph.neighbors(seed, "all")) == {0, 5}


# -- joins -------------------------------------------------------------------

def test_injective_vertex_join(spark):
    left = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, rank double")
    right = spark.createDataFrame([(1, "a"), (2, "b")], "id long, label string")
    out = injective_vertex_join(
        left, right, "id", "id",
        combine=lambda j: j.select(left["id"], "rank", "label"))
    assert sorted(map(tuple, out.collect())) == [(1, 10.0, "a"), (2, 20.0, "b")]


def test_injective_join_validates(spark):
    left = spark.createDataFrame([(1, 1.0)], "id long, rank double")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id long, label string")
    with pytest.raises(ValueError, match="not injective"):
        injective_vertex_join(left, dup, "id", "id", validate=True)


# -- aggregates -------------------------------------------------------------

def test_map_reduce_and_registry(fixture_graph):
    verts = fixture_graph.vertices.select("id", F.lit(1.0).alias("rank"))
    assert map_reduce_vertices(verts, F.sum("rank").alias("total"))["total"] == 5.0
    assert map_reduce_edges(fixture_graph.edges,
                            F.count("*").alias("n"))["n"] == 7
    reg = AggregatorRegistry()
    reg.add_vertex_aggregator("total_rank", F.sum("rank").alias("total"))
    assert reg.aggregate_now("total_rank", vertices=verts)["total"] == 5.0


def test_argmax_and_histogram(fixture_graph):
    deg = fixture_graph.degrees
    top = argmax_vertex(deg, "degree")
    assert top["id"] in (0, 5) and top["degree"] == 4
    h = {r["value"]: r["count"] for r in histogram(deg, "degree").collect()}
    assert h == {4: 2, 2: 3}


# -- determinism across parallelism (SURVEY §5) ------------------------------

def test_pagerank_deterministic_across_partitioning(spark):
    from graphlab_spark.algos.pagerank import pagerank
    edges = load_synthetic_powerlaw(spark, 300)
    outs = []
    for parts in (2, 16):
        g = EdgeGraph(edges, num_edge_partitions=parts)
        ranks = pagerank(g, tol=1e-6, resume=False).state
        outs.append(sorted(
            (r["id"], round(r["rank"], 9)) for r in ranks.collect()))
        g.unpersist()
    assert outs[0] == outs[1]


def test_cc_deterministic_across_partitioning(spark):
    from graphlab_spark.algos.connected_components import connected_components
    edges = load_synthetic_powerlaw(spark, 300)
    outs = []
    for parts in (2, 16):
        g = EdgeGraph(edges, num_edge_partitions=parts)
        comp = connected_components(g, resume=False).state
        outs.append(sorted(map(tuple, comp.collect())))
        g.unpersist()
    assert outs[0] == outs[1]


def test_key_skew_report_flags_hub_and_sizes_salts(spark):
    from graphlab_spark.operators import key_skew_report
    # one hub key with 5000 rows, 100 cold keys with 1 row each
    df = spark.range(5000).select(F.lit(7).alias("dst")).unionAll(
        spark.range(100).select((F.col("id") + 100).alias("dst")))
    rep = key_skew_report(df, ["dst"], top_k=3, target_rows=1000)
    assert rep["n_keys"] == 101
    assert rep["rows"] == 5100
    assert rep["max"] == 5000
    assert rep["top"][0] == {"dst": 7, "count": 5000}
    assert rep["recommended_salts"] == 5      # ceil(5000/1000)
    assert rep["p50"] == 1.0


def test_partition_balance_reports_imbalance(spark):
    from graphlab_spark.operators import partition_balance
    even = spark.range(1000).repartition(4)
    b = partition_balance(even)
    assert b["partitions"] == 4 and b["rows"] == 1000
    assert b["balance"] < 1.5
    skewed = spark.range(1000).repartition(4, (F.col("id") * 0).alias("k"))
    b2 = partition_balance(skewed)
    # AQE-free repartition by a constant: everything in one partition
    assert b2["max"] == 1000


def test_contract_graph_golden(spark, fixture_graph):
    from graphlab_spark.operators.graph_ops import contract_graph
    # label 0,1,2 -> "a"; 3,5 -> "b"; contraction counts directed edges
    # between distinct labels: a->b = (0,5)+(1,5)+(2,5)=3, b->a = none,
    # internal a: (1,0),(2,0); internal b: (3,5)... wait (3,0) is b->a.
    labels = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "a"), (3, "b"), (5, "b")], "id long, label string")
    got = {(r.src, r.dst): r.w for r in contract_graph(fixture_graph, labels).collect()}
    # edges: (0,5) a->b, (1,0) a->a, (1,5) a->b, (2,0) a->a, (2,5) a->b,
    #        (3,0) b->a, (3,5) b->b
    assert got == {("a", "b"): 3, ("b", "a"): 1}
    with_self = {(r.src, r.dst): r.w for r in
                 contract_graph(fixture_graph, labels, keep_internal=True).collect()}
    assert with_self == {("a", "b"): 3, ("b", "a"): 1, ("a", "a"): 2, ("b", "b"): 1}


def test_contract_graph_unlabeled_fallback(spark, fixture_graph):
    from graphlab_spark.operators.graph_ops import contract_graph
    # vertex 5 unlabeled -> gets a prefixed __v5 singleton label (the
    # prefix keeps an id-derived community label like "5" from silently
    # absorbing the unlabeled vertex)
    labels = spark.createDataFrame(
        [(0, "a"), (1, "a"), (2, "a"), (3, "a")], "id long, label string")
    got = {(r.src, r.dst): r.w for r in contract_graph(fixture_graph, labels).collect()}
    # (0,5),(1,5),(2,5),(3,5) all cross a->__v5; (1,0),(2,0),(3,0) internal
    assert got == {("a", "__v5"): 4}
    # an existing community literally labeled "5" must stay distinct
    # from the unlabeled vertex 5's singleton
    labels2 = spark.createDataFrame(
        [(0, "5"), (1, "5"), (2, "5"), (3, "5")], "id long, label string")
    got2 = {(r.src, r.dst): r.w
            for r in contract_graph(fixture_graph, labels2).collect()}
    assert got2 == {("5", "__v5"): 4}
