"""Triangle count / LCC vs reference goldens (F5 + unit shapes)."""

import math

import pytest

from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.triangle import (
    local_clustering_coefficient,
    triangle_count,
    triangles,
)
from tests.conftest import both_tiers, rows_to_dict
from tests.fixtures import (
    F5_EDGES,
    F5_EXPECTED_LCC,
    F5_EXPECTED_TRIANGLES,
    F5_GLOBAL_TRIANGLES,
    F5_NODES,
)


@pytest.fixture(scope="module")
def f5_graph(spark):
    edges = edges_from_tuples(spark, F5_EDGES)
    nodes = spark.createDataFrame([(i,) for i in F5_NODES], "node_id long")
    return graph_from_edges(spark, edges, nodes)


@both_tiers
def test_triangle_doc_fixture(f5_graph):
    res = triangle_count(f5_graph)
    assert res.global_count == F5_GLOBAL_TRIANGLES
    assert rows_to_dict(res.per_node, "node_id", "triangles") == F5_EXPECTED_TRIANGLES


def test_lcc_doc_fixture(f5_graph):
    got = rows_to_dict(local_clustering_coefficient(f5_graph), "node_id", "lcc")
    for n, want in F5_EXPECTED_LCC.items():
        assert got[n] == pytest.approx(want, abs=1e-12)


@both_tiers
def test_triangle_stream_ordered(f5_graph):
    tri = {tuple(r) for r in triangles(f5_graph).collect()}
    # doc fixture: Michael(1)-Karin(2)-Chris(3), Michael-Chris-Will(4),
    # Michael-Will-Mark(5)
    assert tri == {(1, 2, 3), (1, 3, 4), (1, 4, 5)}
    assert all(a < b < c for a, b, c in tri)


@both_tiers
def test_five_clique(spark):
    # 5-clique: global 10, each node 6 (IntersectingTriangleCountTest)
    edges = edges_from_tuples(
        spark, [(i, j) for i in range(5) for j in range(i + 1, 5)]
    )
    res = triangle_count(graph_from_edges(spark, edges))
    assert res.global_count == 10
    assert set(rows_to_dict(res.per_node, "node_id", "triangles").values()) == {6}


@both_tiers
def test_parallel_and_reverse_edges_deduped(spark):
    # triangle present twice + reversed + self-loop: still exactly 1
    edges = edges_from_tuples(
        spark, [(0, 1), (1, 0), (0, 1), (1, 2), (2, 0), (0, 0)]
    )
    res = triangle_count(graph_from_edges(spark, edges))
    assert res.global_count == 1
    got = rows_to_dict(res.per_node, "node_id", "triangles")
    assert got == {0: 1, 1: 1, 2: 1}


def test_no_triangles_line(spark):
    edges = edges_from_tuples(spark, [(0, 1), (1, 2), (2, 3)])
    res = triangle_count(graph_from_edges(spark, edges))
    assert res.global_count == 0
    assert set(rows_to_dict(res.per_node, "node_id", "triangles").values()) == {0}


@both_tiers
def test_max_degree_exclusion(spark):
    # hub node 0 in a 4-clique; cap degree at 2 → 0 excluded (-1), and the
    # remaining triangle among 1,2,3 still counted
    edges = edges_from_tuples(
        spark, [(i, j) for i in range(4) for j in range(i + 1, 4)]
    )
    res = triangle_count(graph_from_edges(spark, edges), max_degree=2)
    got = rows_to_dict(res.per_node, "node_id", "triangles")
    assert all(v == -1 for v in got.values())  # every node has degree 3

    # star + one closing edge: hub degree 3, leaves degree ≤ 2
    edges = edges_from_tuples(spark, [(0, 1), (0, 2), (0, 3), (1, 2)])
    res = triangle_count(graph_from_edges(spark, edges), max_degree=2)
    got = rows_to_dict(res.per_node, "node_id", "triangles")
    assert got[0] == -1 and got[1] == 0 and got[2] == 0 and got[3] == 0

    lcc = rows_to_dict(
        local_clustering_coefficient(
            graph_from_edges(spark, edges_from_tuples(spark, [(0, 1), (0, 2), (0, 3), (1, 2)])),
            max_degree=2,
        ),
        "node_id", "lcc",
    )
    assert math.isnan(lcc[0])


@both_tiers
def test_brute_force_random(spark):
    # F6: seeded random graph vs O(n^3) brute force
    import itertools
    import random

    rng = random.Random(42)
    n = 40
    edge_set = {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if rng.random() < 0.15
    }
    adj = {i: set() for i in range(n)}
    for a, b in edge_set:
        adj[a].add(b)
        adj[b].add(a)
    expected_global = sum(
        1
        for a, b, c in itertools.combinations(range(n), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    edges = edges_from_tuples(spark, sorted(edge_set))
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node_id long")
    res = triangle_count(graph_from_edges(spark, edges, nodes))
    assert res.global_count == expected_global
