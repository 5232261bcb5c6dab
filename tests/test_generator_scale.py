"""Seeded random graphs (gds.graph.generate analog) + F6 property checks:
WCC vs scipy, partitioning invariance, power-law hub handling."""

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.graph import graph_from_edges
from graph_data_science_spark.operators.pagerank import pagerank
from graph_data_science_spark.operators.wcc import wcc
from graph_data_science_spark.plans.loop_state import pinned_tier
from graph_data_science_spark.plans.partitioning import degree_stats, two_level_sum
from graph_data_science_spark.sources.generator import (
    POWER_LAW,
    RANDOM,
    UNIFORM,
    random_graph,
)


def test_generator_deterministic(spark):
    a = sorted(map(tuple, random_graph(spark, 200, 4, UNIFORM, seed=7).collect()))
    b = sorted(map(tuple, random_graph(spark, 200, 4, UNIFORM, seed=7).repartition(13).collect()))
    c = sorted(map(tuple, random_graph(spark, 200, 4, UNIFORM, seed=8).collect()))
    assert a == b
    assert a != c


def test_generator_uniform_degrees(spark):
    edges = random_graph(spark, 100, 5, UNIFORM, seed=1, allow_self_loops=True)
    degs = edges.groupBy("src").count().select("count").distinct().collect()
    assert [r["count"] for r in degs] == [5]


def test_generator_power_law_has_hubs(spark):
    edges = random_graph(spark, 2000, 4, POWER_LAW, seed=3)
    stats = degree_stats(edges, key="src")
    assert stats["max_degree"] > 10 * stats["avg_degree"]


def test_wcc_vs_scipy(spark):
    pytest.importorskip("scipy")
    import numpy as np
    from scipy.sparse import coo_matrix
    from scipy.sparse.csgraph import connected_components

    n = 500
    edges = random_graph(spark, n, 1, RANDOM, seed=11).distinct()
    rows = edges.collect()
    src = np.array([r["src"] for r in rows])
    dst = np.array([r["dst"] for r in rows])
    m = coo_matrix((np.ones(len(src)), (src, dst)), shape=(n, n))
    _, labels = connected_components(m, directed=False)
    # relabel to min-node-id per component (union-by-min semantics)
    want = {}
    mins = {}
    for i, l in enumerate(labels):
        mins[l] = min(mins.get(l, i), i)
    for i, l in enumerate(labels):
        want[i] = mins[l]

    nodes = spark.range(n).select(F.col("id").alias("node_id"))
    g = graph_from_edges(spark, edges, nodes)
    got = {r["node_id"]: r["component"] for r in wcc(g).components.collect()}
    assert got == want


def test_pagerank_partitioning_invariance(spark):
    # same plan at 1 vs 16 input partitions: allclose to summation jitter;
    # the join plan is the one that partitions (the driver-local plan of
    # this small graph collects it whole)
    edges = random_graph(spark, 300, 4, POWER_LAW, seed=5).distinct()
    nodes = spark.range(300).select(F.col("id").alias("node_id"))
    g1 = graph_from_edges(spark, edges.repartition(1), nodes)
    g16 = graph_from_edges(spark, edges.repartition(16), nodes)
    with pinned_tier("memory"):
        a = {r["node_id"]: r["score"]
             for r in pagerank(g1, max_iterations=10).scores.collect()}
        b = {r["node_id"]: r["score"]
             for r in pagerank(g16, max_iterations=10).scores.collect()}
    for k in a:
        assert b[k] == pytest.approx(a[k], abs=1e-12)


def test_two_level_sum_on_hub(spark):
    # a planted mega-hub: salted two-level agg equals plain agg exactly
    # (integer-valued doubles sum associatively)
    edges = random_graph(spark, 1000, 3, UNIFORM, seed=2).withColumn(
        "dst", F.when(F.rand(1) < 0.5, F.lit(0)).otherwise(F.col("dst"))
    ).withColumn("m", F.lit(1.0))
    plain = {r["dst"]: r["s"] for r in
             edges.groupBy("dst").agg(F.sum("m").alias("s")).collect()}
    salted = {r["dst"]: r["s"] for r in
              two_level_sum(edges, "dst", "m", "s", salt_buckets=8).collect()}
    assert plain == salted
