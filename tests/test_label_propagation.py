"""Label propagation against the reference's doc fixture goldens (F4).

The doc goldens encode GDS's sequential in-place sweep (ComputeStep.java —
batches swept in id order updating the shared array); the engine's
``batch_sequential`` mode reproduces them exactly. The ``sync`` scale mode is
validated for community-partition agreement on graphs where synchronous LPA
is stable (GDS itself is batch-order dependent — SURVEY §2.4).
"""

import pytest

from graph_data_science_spark.graph import UNDIRECTED, edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.label_propagation import label_propagation
from tests.conftest import rows_to_dict
from tests.fixtures import (
    F4_EDGES,
    F4_EXPECTED_SEEDED,
    F4_EXPECTED_UNWEIGHTED,
    F4_EXPECTED_WEIGHTED,
    F4_NODES,
    F4_SEEDS,
)


@pytest.fixture(scope="module")
def f4_graph(spark):
    edges = edges_from_tuples(spark, F4_EDGES, weighted=True)
    nodes = spark.createDataFrame(
        [(i, F4_SEEDS[i]) for i in F4_NODES], "node_id long, seed_label long"
    )
    return graph_from_edges(spark, edges, nodes)


def _communities(labels: dict) -> set[frozenset]:
    by_label = {}
    for node, lbl in labels.items():
        by_label.setdefault(lbl, set()).add(node)
    return {frozenset(v) for v in by_label.values()}


def test_lpa_unweighted_gds_parity(f4_graph):
    res = label_propagation(f4_graph, mode="batch_sequential")
    got = rows_to_dict(res.labels, "node_id", "label")
    assert got == F4_EXPECTED_UNWEIGHTED
    assert res.converged


def test_lpa_weighted_gds_parity(f4_graph):
    res = label_propagation(f4_graph, weighted=True, mode="batch_sequential")
    got = rows_to_dict(res.labels, "node_id", "label")
    assert got == F4_EXPECTED_WEIGHTED


def test_lpa_seeded_gds_parity(f4_graph):
    res = label_propagation(
        f4_graph, seed_property="seed_label", mode="batch_sequential"
    )
    got = rows_to_dict(res.labels, "node_id", "label")
    assert got == F4_EXPECTED_SEEDED


def test_lpa_sync_two_cliques(spark):
    # two 3-cliques joined by one bridge edge, projected undirected: sync LPA
    # converges and the community partition matches the structure
    clique1 = [(0, 1), (1, 2), (0, 2)]
    clique2 = [(3, 4), (4, 5), (3, 5)]
    edges = edges_from_tuples(spark, clique1 + clique2 + [(2, 3)])
    g = graph_from_edges(spark, edges).oriented(UNDIRECTED)
    res = label_propagation(g, mode="sync", max_iterations=20)
    got = rows_to_dict(res.labels, "node_id", "label")
    parts = _communities(got)
    assert frozenset({0, 1, 2}) in parts or frozenset({0, 1, 2, 3, 4, 5}) in parts


def test_lpa_sync_matches_sequential_on_stable_graph(spark):
    # disjoint triangles (sync-stable — no bipartite oscillation): both
    # modes find the same community partition
    edges = edges_from_tuples(
        spark, [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    )
    g = graph_from_edges(spark, edges).oriented(UNDIRECTED)
    a = rows_to_dict(label_propagation(g, mode="sync").labels, "node_id", "label")
    b = rows_to_dict(
        label_propagation(g, mode="batch_sequential").labels, "node_id", "label"
    )
    assert _communities(a) == _communities(b)


def test_lpa_isolated_keeps_label(spark):
    edges = edges_from_tuples(spark, [(0, 1)])
    nodes = spark.createDataFrame([(0,), (1,), (9,)], "node_id long")
    res = label_propagation(graph_from_edges(spark, edges, nodes))
    got = rows_to_dict(res.labels, "node_id", "label")
    assert got[9] == 9


def test_lpa_batch_sequential_multi_batch_deterministic(f4_graph):
    # two runs at the same batch size are identical (determinism for fixed P)
    a = rows_to_dict(
        label_propagation(f4_graph, mode="batch_sequential", batch_size=2).labels,
        "node_id", "label",
    )
    b = rows_to_dict(
        label_propagation(f4_graph, mode="batch_sequential", batch_size=2).labels,
        "node_id", "label",
    )
    assert a == b


def test_lpa_unknown_mode_raises_and_leaves_no_cached_frame(spark, f4_graph):
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="unknown mode"):
        label_propagation(f4_graph, mode="async")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
