"""Louvain / Leiden / modularity optimization."""

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.louvain import (
    _adjacency,
    _refine_connectivity,
    leiden,
    louvain,
    modularity_optimization,
)
from tests.conftest import rows_to_dict


def _two_triangles(spark):
    # triangles {0,1,2} and {3,4,5} bridged by 2-3
    edges = edges_from_tuples(
        spark, [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)])
    return graph_from_edges(spark, edges)


def test_modularity_optimization_two_triangles(spark):
    res = modularity_optimization(_two_triangles(spark))
    got = rows_to_dict(res.communities, "node_id", "community")
    assert got[0] == got[1] == got[2] == 0
    assert got[3] == got[4] == got[5] == 3
    # m=7, each triangle: 3 intra edges, volume 7 → Q = 2·(3/7 − (7/14)²)
    assert res.modularity == pytest.approx(2 * (3 / 7 - 0.25), abs=1e-9)
    assert res.converged


def _triangle_ring(spark):
    # four triangles in a ring
    tris = []
    for t in range(4):
        b = 3 * t
        tris += [(b, b + 1), (b + 1, b + 2), (b, b + 2)]
    ring = [(2, 3), (5, 6), (8, 9), (11, 0)]
    return graph_from_edges(spark, edges_from_tuples(spark, tris + ring))


def test_louvain_coarsens_cliques(spark):
    # level 1 groups triangles, level 2 may merge
    g = _triangle_ring(spark)
    res = louvain(g)
    got = rows_to_dict(res.communities, "node_id", "community")
    # every triangle stays together
    for t in range(4):
        b = 3 * t
        assert got[b] == got[b + 1] == got[b + 2]
    assert res.modularity > 0.4
    assert res.ran_levels >= 1


def test_multilevel_streams_with_held_counts_stay_in_memory(
        spark, monkeypatch):
    """The level assignment, relabel, mapping, supernode and coarse
    adjacency streams seed their first truncate with a count the run
    already holds, so a tiny graph never round-trips them through
    parquet."""
    from graph_data_science_spark.plans import loop_state

    seen = []
    real = loop_state.Scratch.in_memory

    def spy(self, stream, rows_hint=None):
        got = real(self, stream, rows_hint)
        seen.append((stream, got))
        return got

    monkeypatch.setattr(loop_state.Scratch, "in_memory", spy)
    res = leiden(_triangle_ring(spark), theta=0.0)
    assert res.ran_levels >= 2
    hinted = {"comm", "rl", "map", "sup", "cadj"}
    # "map" is first truncated from a third level on; two levels here
    assert hinted - {"map"} <= {s for s, _ in seen}
    assert [s for s, mem in seen if s in hinted and not mem] == []


def test_louvain_weighted_pulls_node_across(spark):
    # bridge 2-3 weight 100 dominates (m=106): grouping {2,3} scores
    # Q≈0.0355 while triangle-grouping goes negative — weights must flip
    # the unweighted answer
    edges = edges_from_tuples(
        spark,
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0),
         (3, 4, 1.0), (4, 5, 1.0), (3, 5, 1.0), (2, 3, 100.0)],
        weighted=True)
    g = graph_from_edges(spark, edges)
    got = rows_to_dict(louvain(g).communities, "node_id", "community")
    assert got[2] == got[3]
    assert got[0] != got[2]


def test_refine_splits_disconnected_community(spark):
    spark_df = edges_from_tuples(spark, [(0, 1), (2, 3)])
    g = graph_from_edges(spark, spark_df)
    adj = _adjacency(g)
    comm = g.nodes.select("node_id", F.lit(0).cast("long").alias("comm"))
    refined = rows_to_dict(_refine_connectivity(adj, comm), "node_id", "comm")
    assert refined[0] == refined[1] and refined[2] == refined[3]
    assert refined[0] != refined[2]


def test_refine_connectivity_wcc_cap_is_intra_edge_count(spark, monkeypatch):
    """A community can be a chain longer than any fixed cap: refinement caps
    WCC at the intra-community edge count + 1, a bound on any component's
    diameter + 1."""
    from graph_data_science_spark.operators import louvain as louvain_mod

    caps = []
    real = louvain_mod.wcc

    def recording_wcc(graph, max_iterations=100):
        caps.append(max_iterations)
        return real(graph, max_iterations=max_iterations)

    monkeypatch.setattr(louvain_mod, "wcc", recording_wcc)
    # community 0: a 5-edge chain and a separate edge; community 1: one
    # edge; the 4-6 edge crosses communities and does not count
    g = graph_from_edges(spark, edges_from_tuples(
        spark, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (8, 9), (6, 7),
                (4, 6)]))
    comm = g.nodes.select("node_id", F.when(F.col("node_id").isin(6, 7), 1)
                          .otherwise(0).cast("long").alias("comm"))
    refined = rows_to_dict(_refine_connectivity(_adjacency(g), comm),
                           "node_id", "comm")
    assert caps == [7 + 1]
    assert {refined[v] for v in range(6)} == {0}
    assert refined[8] == refined[9] == 8 and refined[6] == refined[7] == 6


def test_leiden_matches_louvain_on_clean_structure(spark):
    g = _two_triangles(spark)
    lo = rows_to_dict(louvain(g).communities, "node_id", "community")
    le = rows_to_dict(leiden(g).communities, "node_id", "community")
    assert lo == le
    # leiden guarantee: every community's induced subgraph is connected
    res = leiden(g)
    from graph_data_science_spark.operators.louvain import _adjacency
    refined = _refine_connectivity(
        _adjacency(g),
        res.communities.select("node_id", F.col("community").alias("comm")))
    n_refined = refined.select("comm").distinct().count()
    n_comm = res.communities.select("community").distinct().count()
    assert n_refined == n_comm


def test_leiden_gamma_resolution(spark):
    """Higher γ penalizes volume harder → finer partition (more
    communities); γ→0 → everything merges (reference LeidenBaseConfig
    gamma semantics)."""
    g = _two_triangles(spark)
    coarse = leiden(g, gamma=0.05, theta=0.0).communities \
        .select("community").distinct().count()
    default = leiden(g, gamma=1.0, theta=0.0).communities \
        .select("community").distinct().count()
    fine = leiden(g, gamma=50.0, theta=0.0).communities \
        .select("community").distinct().count()
    assert coarse <= default <= fine
    assert fine > default  # γ=50 shatters the triangles


def test_leiden_theta_deterministic_and_connected(spark):
    g = _two_triangles(spark)
    a = rows_to_dict(leiden(g, theta=0.05, seed=7).communities,
                     "node_id", "community")
    b = rows_to_dict(leiden(g, theta=0.05, seed=7).communities,
                     "node_id", "community")
    assert a == b
    # connectivity invariant holds under θ-randomized refinement
    res = leiden(g, theta=0.05, seed=7)
    refined = _refine_connectivity(
        _adjacency(g),
        res.communities.select("node_id", F.col("community").alias("comm")))
    assert (refined.select("comm").distinct().count()
            == res.communities.select("community").distinct().count())
