"""WCC against the reference's doc fixture goldens (FIXTURES.md F3), plus
the Pregel size gate's fusion switch on a small chain."""

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.wcc import wcc
from tests.conftest import rows_to_dict
from tests.fixtures import F3_EDGES, F3_EXPECTED, F3_EXPECTED_THRESHOLD_1, F3_NODES


@pytest.fixture(scope="module")
def f3_graph(spark):
    edges = edges_from_tuples(spark, F3_EDGES, weighted=True)
    nodes = spark.createDataFrame([(i,) for i in F3_NODES], "node_id long")
    return graph_from_edges(spark, edges, nodes)


def test_wcc_doc_fixture(f3_graph):
    res = wcc(f3_graph)
    assert res.converged
    assert rows_to_dict(res.components, "node_id", "component") == F3_EXPECTED


def test_wcc_threshold(f3_graph):
    res = wcc(f3_graph, threshold=1.0)
    assert rows_to_dict(res.components, "node_id", "component") == F3_EXPECTED_THRESHOLD_1


def test_wcc_line_graph(spark):
    # chained components (WccTest.java:121-131 analog): 0-1-2, 3-4-5, isolated 6
    edges = edges_from_tuples(spark, [(0, 1), (1, 2), (3, 4), (4, 5)])
    nodes = spark.createDataFrame([(i,) for i in range(7)], "node_id long")
    res = wcc(graph_from_edges(spark, edges, nodes))
    got = rows_to_dict(res.components, "node_id", "component")
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6}


def test_wcc_direction_ignored(spark):
    # WCC is weakly connected: reversed edges merge the same components
    edges = edges_from_tuples(spark, [(2, 1), (1, 0), (5, 4), (4, 3)])
    nodes = spark.createDataFrame([(i,) for i in range(6)], "node_id long")
    res = wcc(graph_from_edges(spark, edges, nodes))
    got = rows_to_dict(res.components, "node_id", "component")
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_wcc_consecutive_ids(spark):
    edges = edges_from_tuples(spark, [(10, 11), (20, 21)])
    res = wcc(graph_from_edges(spark, edges), consecutive_ids=True)
    got = rows_to_dict(res.components, "node_id", "component")
    assert got == {10: 0, 11: 0, 20: 1, 21: 1}


def test_wcc_seeded(spark):
    # seeded components keep their seed id; unseeded get fresh ids > max seed
    edges = edges_from_tuples(spark, [(0, 1), (2, 3)])
    nodes = spark.createDataFrame(
        [(0, 7), (1, None), (2, None), (3, None)], "node_id long, seed long"
    )
    res = wcc(graph_from_edges(spark, edges, nodes), seed_property="seed")
    got = rows_to_dict(res.components, "node_id", "component")
    assert got[0] == 7 and got[1] == 7
    assert got[2] == got[3] == 10  # min(7+1+2, 7+1+3)


# ---- fusion size gate (SCALE_NOTES §14) -------------------------------------

def test_fusion_gates_off_below_row_threshold(spark):
    """Small runs must execute UNFUSED (fused=1 per block) so convergence is
    detected at the true superstep; forcing the gate threshold down must
    restore fuse=3 blocks on the same input. Results identical either way."""
    from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
    from graph_data_science_spark.operators.wcc import wcc
    from graph_data_science_spark.plans import loop_state

    # chain of 12 nodes: WCC needs several supersteps
    edges = edges_from_tuples(spark, [(i, i + 1) for i in range(11)])
    g = graph_from_edges(spark, edges)

    small = wcc(g)
    assert all(m["fused"] == 1 for m in small.metrics), small.metrics
    assert all(m["tier"] == "memory" for m in small.metrics), small.metrics

    old = loop_state.LARGE_STATE_ROWS
    loop_state.LARGE_STATE_ROWS = 1  # force "large" classification
    try:
        forced = wcc(g)
    finally:
        loop_state.LARGE_STATE_ROWS = old
    assert any(m["fused"] > 1 for m in forced.metrics), forced.metrics
    assert all(m["tier"] == "parquet" for m in forced.metrics), forced.metrics

    a = {r["node_id"]: r["component"] for r in small.components.collect()}
    b = {r["node_id"]: r["component"] for r in forced.components.collect()}
    assert a == b
