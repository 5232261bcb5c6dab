"""BFS / SSSP / DAG levels / k-core against hand-computed goldens."""

import math

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.graph import UNDIRECTED, Graph, edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.kcore import coreness, k_core
from graph_data_science_spark.operators.paths import bfs, dag_levels, shortest_paths
from tests.conftest import rows_to_dict, scratch_dirs

INF = float("inf")


def test_bfs_hops(spark):
    # 0→1→2→3, 0→4, 5 isolated
    edges = edges_from_tuples(spark, [(0, 1), (1, 2), (2, 3), (0, 4)])
    nodes = spark.createDataFrame([(i,) for i in range(6)], "node_id long")
    got = rows_to_dict(bfs(graph_from_edges(spark, edges, nodes), source=0).distances,
                       "node_id", "distance")
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0, 4: 1.0, 5: INF}


def test_sssp_weighted_prefers_cheaper_path(spark):
    # 0→1 (5.0) vs 0→2→1 (1+1): dijkstra-style answer 2.0
    edges = edges_from_tuples(
        spark, [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)], weighted=True)
    g = graph_from_edges(spark, edges)
    got = rows_to_dict(shortest_paths(g, source=0).distances, "node_id", "distance")
    assert got == {0: 0.0, 1: 2.0, 2: 1.0, 3: 3.0}


def test_sssp_unweighted_equals_bfs(spark):
    edges = edges_from_tuples(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    g = graph_from_edges(spark, edges)
    a = rows_to_dict(bfs(g, 0).distances, "node_id", "distance")
    b = rows_to_dict(shortest_paths(g, 0, weighted=False).distances,
                     "node_id", "distance")
    assert a == b


def test_dag_levels(spark):
    # diamond 0→{1,2}→3 plus long arm 0→4→5→3: level(3) = 3 (longest path)
    edges = edges_from_tuples(
        spark, [(0, 1), (0, 2), (1, 3), (2, 3), (0, 4), (4, 5), (5, 3)])
    g = graph_from_edges(spark, edges)
    got = rows_to_dict(dag_levels(g), "node_id", "level")
    assert got == {0: 0, 1: 1, 2: 1, 4: 1, 5: 2, 3: 3}


def test_dag_levels_cycle_raises(spark):
    edges = edges_from_tuples(spark, [(0, 1), (1, 2), (2, 0)])
    g = graph_from_edges(spark, edges)
    with pytest.raises(ValueError, match="cycle"):
        dag_levels(g, max_iterations=10)


def test_k_core_membership(spark):
    # 4-clique {0,1,2,3} + tail 3-4-5: 3-core = clique only
    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = edges_from_tuples(spark, clique + [(3, 4), (4, 5)])
    g = graph_from_edges(spark, edges)
    got = rows_to_dict(k_core(g, k=3), "node_id", "in_core")
    assert got == {0: True, 1: True, 2: True, 3: True, 4: False, 5: False}


def test_coreness(spark):
    # 4-clique (core 3) + tail 3-4-5 (core 1) + triangle 6,7,8 (core 2)
    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    tri = [(6, 7), (7, 8), (6, 8)]
    edges = edges_from_tuples(spark, clique + [(3, 4), (4, 5)] + tri)
    nodes = spark.createDataFrame([(i,) for i in range(10)], "node_id long")
    g = graph_from_edges(spark, edges, nodes)
    got = rows_to_dict(coreness(g), "node_id", "core")
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 1, 6: 2, 7: 2, 8: 2, 9: 0}


def test_coreness_keeps_only_its_result_resident(spark):
    """The mirrored edge frame goes with the call: of the RDDs the call
    leaves persisted, only the returned state's remains."""
    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    g = graph_from_edges(spark, edges_from_tuples(spark, clique + [(3, 4)]))

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    cores = coreness(g)
    assert len(persisted() - before) == 1
    assert {r["core"] for r in cores.collect()} == {1, 3}


def test_dijkstra_paths(spark):
    from graph_data_science_spark.operators.paths import astar, dijkstra

    # 0→1 (5.0) vs 0→2→1 (1+1); 1→3
    edges = edges_from_tuples(
        spark, [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)], weighted=True)
    g = graph_from_edges(spark, edges)
    rows = {r["target_node"]: r for r in dijkstra(g, source=0).paths.collect()}
    assert rows[1]["path"] == "0->2->1" and rows[1]["total_cost"] == 2.0
    assert rows[1]["node_ids"] == [0, 2, 1] and rows[1]["costs"] == [0.0, 1.0, 2.0]
    assert rows[3]["path"] == "0->2->1->3" and rows[3]["total_cost"] == 3.0
    assert rows[0]["path"] == "0" and rows[0]["total_cost"] == 0.0
    a = astar(g, 0, 3).paths.collect()
    assert len(a) == 1 and a[0]["path"] == "0->2->1->3"


def test_dijkstra_equal_cost_tie_breaks_to_smaller_pred(spark):
    # two equal-cost routes 0→1→3 and 0→2→3: pred of 3 must be 1
    edges = edges_from_tuples(
        spark, [(0, 1, 1.0), (0, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)], weighted=True)
    g = graph_from_edges(spark, edges)
    rows = {r["target_node"]: r["path"] for r in dijkstra_paths_helper(spark, g)}
    assert rows[3] == "0->1->3"


def dijkstra_paths_helper(spark, g):
    from graph_data_science_spark.operators.paths import dijkstra
    return dijkstra(g, source=0).paths.collect()


def test_yens_k_shortest(spark):
    from graph_data_science_spark.operators.paths import yens

    # classic: 0→1→3 (2), 0→2→3 (3), 0→1→2→3 (4)
    edges = edges_from_tuples(
        spark, [(0, 1, 1.0), (1, 3, 1.0), (0, 2, 1.0), (2, 3, 2.0),
                (1, 2, 1.0)], weighted=True)
    g = graph_from_edges(spark, edges)
    got = [(r["total_cost"], r["path"]) for r in
           yens(g, 0, 3, k=3).orderBy("index").collect()]
    assert got == [(2.0, "0->1->3"), (3.0, "0->2->3"), (4.0, "0->1->2->3")]


# ---- delta-stepping ---------------------------------------------------------

def test_delta_stepping_matches_bellman_ford(spark):
    # mixed light/heavy weights around delta=2.0: heavy direct edge 0->3
    # (5.0) loses to the light chain 0->1->2->3 (1+1+1)
    edges = edges_from_tuples(
        spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 3, 5.0),
                (3, 4, 2.5), (0, 5, 2.0), (5, 4, 0.5)], weighted=True)
    g = graph_from_edges(spark, edges)
    from graph_data_science_spark.operators.paths import shortest_paths_delta
    ref = rows_to_dict(shortest_paths(g, source=0).distances,
                       "node_id", "distance")
    got = shortest_paths_delta(g, source=0, delta=2.0)
    assert got.converged
    assert rows_to_dict(got.distances, "node_id", "distance") == ref
    # 0->5 is exactly delta (2.0) => heavy edge; 5->4 light: dist(4)=2.5
    assert ref[4] == 2.5


def test_delta_stepping_delta_invariant(spark):
    # the fixpoint must not depend on the bucket width
    edges = edges_from_tuples(
        spark, [(0, 1, 0.3), (1, 2, 4.0), (0, 2, 4.5), (2, 3, 0.1),
                (1, 3, 9.0)], weighted=True)
    g = graph_from_edges(spark, edges)
    from graph_data_science_spark.operators.paths import shortest_paths_delta
    ref = rows_to_dict(shortest_paths(g, source=0).distances,
                       "node_id", "distance")
    for d in (0.5, 2.0, 100.0):
        got = rows_to_dict(
            shortest_paths_delta(g, source=0, delta=d).distances,
            "node_id", "distance")
        assert got == ref, f"delta={d}"


def test_delta_stepping_unreachable_and_source(spark):
    edges = edges_from_tuples(spark, [(0, 1, 1.5)], weighted=True)
    nodes = spark.createDataFrame([(i,) for i in range(3)], "node_id long")
    g = graph_from_edges(spark, edges, nodes)
    from graph_data_science_spark.operators.paths import shortest_paths_delta
    got = rows_to_dict(shortest_paths_delta(g, source=0).distances,
                       "node_id", "distance")
    assert got == {0: 0.0, 1: 1.5, 2: INF}


def test_bellman_ford_negative_weights_no_cycle(spark):
    from graph_data_science_spark.operators.paths import bellman_ford

    # 0->1 (4), 0->2 (1), 2->1 (-2): negative edge shortens 0->1 to -1;
    # 1->3 (1) rides the improved prefix
    edges = edges_from_tuples(
        spark, [(0, 1, 4.0), (0, 2, 1.0), (2, 1, -2.0), (1, 3, 1.0)],
        weighted=True)
    g = graph_from_edges(spark, edges)
    res = bellman_ford(g, 0)
    assert res.contains_negative_cycle is False
    assert res.negative_cycles.count() == 0
    d = {r["node_id"]: r["distance"] for r in res.distances.collect()}
    assert d[0] == 0.0 and d[2] == 1.0 and d[1] == -1.0 and d[3] == 0.0
    p = {r["node_id"]: r["pred"] for r in res.distances.collect()}
    assert p[1] == 2 and p[3] == 1 and p[0] is None


def test_bellman_ford_streams_negative_cycles(spark):
    from graph_data_science_spark.operators.paths import bellman_ford

    # two disjoint planted negative cycles hanging off the source chain:
    # 0->1->2->3->1 (1+1-3 = -1) and 0->10, 10->11->12->11 (1-2 = -1),
    # plus an untouched positive tail 3->4
    edges = edges_from_tuples(
        spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 1, -3.0),
                (3, 4, 1.0), (0, 10, 1.0), (10, 11, 1.0), (11, 12, 1.0),
                (12, 11, -2.0)],
        weighted=True)
    g = graph_from_edges(spark, edges)
    res = bellman_ford(g, 0)
    assert res.contains_negative_cycle is True
    got = {}
    for r in res.negative_cycles.collect():
        got.setdefault(r["cycle_id"], set()).add(r["node_id"])
    assert got == {1: {1, 2, 3}, 11: {11, 12}}


def test_bellman_ford_unreachable_cycle_not_reported(spark):
    from graph_data_science_spark.operators.paths import bellman_ford

    # negative cycle 5->6->5 is NOT reachable from source 0 — the
    # reference only reports cycles reachable from the source
    edges = edges_from_tuples(
        spark, [(0, 1, 1.0), (5, 6, 1.0), (6, 5, -3.0)], weighted=True)
    g = graph_from_edges(spark, edges)
    res = bellman_ford(g, 0)
    assert res.contains_negative_cycle is False
    assert res.negative_cycles.count() == 0
    d = {r["node_id"]: r["distance"] for r in res.distances.collect()}
    assert d[1] == 1.0 and d[5] == float("inf")


def test_bellman_ford_iteration_cap_is_not_a_cycle(spark):
    from graph_data_science_spark.operators.paths import bellman_ford

    # cycle-free chain 0->1->2->3->4: after 2 rounds the frontier is still
    # live only because the cap cut the loop short, not because of a cycle
    edges = edges_from_tuples(
        spark, [(i, i + 1, 1.0) for i in range(4)], weighted=True)
    g = graph_from_edges(spark, edges)
    with pytest.raises(ValueError, match="did not converge"):
        bellman_ford(g, 0, max_iterations=2)
    # the same graph with enough rounds converges without a cycle
    assert bellman_ford(g, 0, max_iterations=5).contains_negative_cycle is False


def _chain(spark, n):
    return graph_from_edges(
        spark, edges_from_tuples(spark, [(i, i + 1) for i in range(n - 1)]))


def test_k_core_raises_at_its_cap(spark):
    # a 10-node path peels two ends per round: two rounds leave 6 nodes
    # that are not a 2-core (the true 2-core is empty)
    g = _chain(spark, 10)
    before = scratch_dirs()
    with pytest.raises(ValueError, match="k_core did not converge in 2"):
        k_core(g, k=2, max_iterations=2)
    assert scratch_dirs() <= before
    assert not any(rows_to_dict(k_core(g, k=2), "node_id", "in_core").values())


def test_bfs_and_shortest_paths_raise_at_their_cap(spark):
    # node 9 of an 11-node chain is 9 hops out: 3 supersteps cannot reach it
    g = _chain(spark, 11)
    with pytest.raises(ValueError, match="did not converge in 3"):
        bfs(g, 0, max_iterations=3)
    with pytest.raises(ValueError, match="did not converge in 3"):
        shortest_paths(g, 0, weighted=False, max_iterations=3)
