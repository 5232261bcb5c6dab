"""PageRank golden tests — fixtures F1 (unit graph) and F2 (doc graph).

Reference goldens: algo/src/test/java/org/neo4j/gds/pagerank/PageRankTest.java:66-141
and doc/modules/ROOT/pages/algorithms/page-rank.adoc result tables.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.graph import Graph, edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.pagerank import (
    pagerank, pagerank_incremental)
from graph_data_science_spark.plans.loop_state import pinned_tier

from tests.conftest import both_tiers
from tests.fixtures import (
    F1_EDGES, F1_EXPECTED, F1_NODES,
    F2_EDGES, F2_EXPECTED_TOL01, F2_EXPECTED_UNWEIGHTED, F2_EXPECTED_WEIGHTED, F2_NODES,
)


def build_graph(spark, edges, nodes, weighted=False):
    e = edges_from_tuples(spark, edges, weighted=weighted)
    n = spark.createDataFrame([(i,) for i in nodes], "node_id long")
    return Graph(nodes=n, edges=e)


def scores_dict(result):
    return {r["node_id"]: r["score"] for r in result.scores.collect()}


@both_tiers
def test_pagerank_f1_fixpoint(spark):
    g = build_graph(spark, F1_EDGES, F1_NODES)
    res = pagerank(g, damping_factor=0.85, tolerance=0.0, max_iterations=41)
    got = scores_dict(res)
    for node, want in F1_EXPECTED.items():
        assert got[node] == pytest.approx(want, abs=1e-5), f"node {node}"


def test_pagerank_f1_sinks_exact_alpha(spark):
    # dangling mass NOT redistributed: pure sources/sinks stay at 1-d = 0.15
    g = build_graph(spark, F1_EDGES, F1_NODES)
    res = pagerank(g, tolerance=0.0, max_iterations=41)
    got = scores_dict(res)
    for node in (6, 7, 8, 9, 10):
        assert got[node] == pytest.approx(0.15, abs=1e-12)


def test_pagerank_f2_unweighted_defaults(spark):
    g = build_graph(spark, F2_EDGES, F2_NODES, weighted=True)
    res = pagerank(g, damping_factor=0.85, tolerance=1e-7, max_iterations=20)
    got = scores_dict(res)
    for node, want in F2_EXPECTED_UNWEIGHTED.items():
        assert got[node] == pytest.approx(want, abs=1e-6), f"node {node}"
    assert res.ran_iterations == 20  # doc golden: ranIterations = 20


@both_tiers
def test_pagerank_f2_weighted(spark):
    g = build_graph(spark, F2_EDGES, F2_NODES, weighted=True)
    res = pagerank(g, weighted=True)
    got = scores_dict(res)
    for node, want in F2_EXPECTED_WEIGHTED.items():
        assert got[node] == pytest.approx(want, abs=1e-6), f"node {node}"


@both_tiers
def test_pagerank_f2_tolerance_early_stop(spark):
    g = build_graph(spark, F2_EDGES, F2_NODES, weighted=True)
    res = pagerank(g, tolerance=0.1)
    got = scores_dict(res)
    for node, want in F2_EXPECTED_TOL01.items():
        assert got[node] == pytest.approx(want, abs=1e-6), f"node {node}"
    assert res.converged
    assert res.ran_iterations < 20


@both_tiers
def test_pagerank_personalized_source_nodes(spark):
    # personalized: non-source nodes start at 0; sources at alpha
    g = build_graph(spark, F2_EDGES, F2_NODES, weighted=True)
    # maxIterations counts the send-only initial superstep: 2 = one exchange
    res = pagerank(g, source_nodes=[0], tolerance=0.0, max_iterations=2)
    got = scores_dict(res)
    assert got[0] == pytest.approx(0.15)
    # Home's 3 out-neighbors each get d * (0.15/3)
    for nb in (1, 2, 3):
        assert got[nb] == pytest.approx(0.85 * 0.05)
    for other in (4, 5, 6, 7):
        assert got[other] == pytest.approx(0.0)


def test_pagerank_unknown_source_nodes_dropped(spark):
    """Unknown personalized sources are dropped: 3 is missing from the middle
    of the id range, 99 lies past its end."""
    nodes = spark.createDataFrame([(0,), (2,), (4,)], "node_id long")
    edges = spark.createDataFrame([(0, 2), (2, 4)], "src long, dst long")
    g = Graph(nodes=nodes, edges=edges)
    want = scores_dict(pagerank(g, source_nodes=[2]))
    for srcs in ([2, 3], [2, 99]):
        assert scores_dict(pagerank(g, source_nodes=srcs)) == pytest.approx(
            want, abs=1e-12)


def test_pagerank_salted_two_level_agg_matches(spark):
    # the salt exists only in the join plan: compare it with that plan
    g = build_graph(spark, F1_EDGES, F1_NODES)
    with pinned_tier("memory"):
        base = scores_dict(pagerank(g, tolerance=0.0, max_iterations=41))
        salted = scores_dict(pagerank(g, tolerance=0.0, max_iterations=41,
                                      skew_salt=4))
    for node in F1_NODES:
        assert salted[node] == pytest.approx(base[node], abs=1e-12)


@both_tiers
def test_pagerank_vs_numpy_power_iteration(spark):
    """F6 cross-check: same delta-push recurrence in dense NumPy."""
    import numpy as np

    rng = np.random.default_rng(42)
    n = 60
    edges = set()
    while len(edges) < 300:
        a, b = rng.integers(0, n, 2)
        if a != b:
            edges.add((int(a), int(b)))
    edges = sorted(edges)

    # dense reference of the exact GDS recurrence
    alpha, d, iters = 0.15, 0.85, 30
    out_deg = np.zeros(n)
    for a, b in edges:
        out_deg[a] += 1
    rank = np.full(n, alpha)
    delta = rank.copy()
    for _ in range(iters):
        msg = np.zeros(n)
        for a, b in edges:
            if delta[a] > 0:
                msg[b] += delta[a] / out_deg[a]
        delta = d * msg
        rank += delta

    g = build_graph(spark, edges, list(range(n)))
    res = pagerank(g, tolerance=0.0, max_iterations=iters + 1)
    got = scores_dict(res)
    for i in range(n):
        assert got[i] == pytest.approx(rank[i], abs=1e-9), f"node {i}"


# ---- incremental (warm-start push-residual) ---------------------------------

@both_tiers
def test_pagerank_incremental_matches_full_recompute(spark):
    from graph_data_science_spark.operators.pagerank import pagerank_incremental
    base_edges = [(a, b) for (a, b, *_r) in F2_EDGES]
    g0 = build_graph(spark, base_edges, F2_NODES)
    # damping 0.5: deltas halve per superstep, so 1e-9 converges in ~30
    # supersteps (0.85 would need ~130 — same math, slower test)
    prev = pagerank(g0, damping_factor=0.5, tolerance=1e-9,
                    max_iterations=60).scores
    # perturb: drop one edge, add two (one to a brand-new node 99)
    new_edges = base_edges[1:] + [(0, 6), (3, 99)]
    g1 = build_graph(spark, new_edges, list(F2_NODES) + [99])
    full = scores_dict(pagerank(g1, damping_factor=0.5, tolerance=1e-9,
                                max_iterations=60))
    inc = pagerank_incremental(g1, prev, damping_factor=0.5,
                               tolerance=1e-9, max_iterations=60)
    assert inc.converged
    got = scores_dict(inc)
    assert set(got) == set(full)
    for k in full:
        assert abs(got[k] - full[k]) < 1e-6, (k, got[k], full[k])


@both_tiers
def test_pagerank_incremental_weighted_matches_full_recompute(spark):
    from graph_data_science_spark.operators.pagerank import pagerank_incremental
    kw = dict(damping_factor=0.5, tolerance=1e-9, max_iterations=60,
              weighted=True)
    g0 = build_graph(spark, F2_EDGES, F2_NODES, weighted=True)
    prev = pagerank(g0, **kw).scores
    # perturb: drop one edge, reweight one, add two (one to new node 99)
    new_edges = F2_EDGES[1:] + [(0, 6, 0.5), (3, 99, 0.3)]
    new_edges = [(a, b, 2.0 if (a, b) == (3, 0) else w)
                 for a, b, w in new_edges]
    g1 = build_graph(spark, new_edges, list(F2_NODES) + [99], weighted=True)
    full = scores_dict(pagerank(g1, **kw))
    inc = pagerank_incremental(g1, prev, **kw)
    assert inc.converged
    got = scores_dict(inc)
    assert set(got) == set(full)
    for k in full:
        assert abs(got[k] - full[k]) < 1e-6, (k, got[k], full[k])


@both_tiers
def test_pagerank_incremental_cold_start_equals_reference_kernel(spark):
    from graph_data_science_spark.operators.pagerank import pagerank_incremental
    g = build_graph(spark, F1_EDGES, F1_NODES)
    empty_prev = spark.createDataFrame([], "node_id long, score double")
    got = scores_dict(pagerank_incremental(g, empty_prev, tolerance=1e-10,
                                           max_iterations=60))
    ref = scores_dict(pagerank(g, tolerance=1e-10, max_iterations=60))
    for k in ref:
        assert abs(got[k] - ref[k]) < 1e-9


@both_tiers
def test_pagerank_incremental_frontier_is_local(spark):
    from graph_data_science_spark.operators.pagerank import pagerank_incremental
    # long chain; a leaf edge appended at the TAIL perturbs only its
    # neighborhood, so the warm-start frontier must be a small fraction of n
    n = 40
    chain = [(i, i + 1) for i in range(n - 1)]
    g0 = build_graph(spark, chain, list(range(n)))
    prev = pagerank(g0, tolerance=1e-12, max_iterations=100).scores
    g1 = build_graph(spark, chain + [(n - 1, n)], list(range(n + 1)))
    inc = pagerank_incremental(g1, prev, tolerance=1e-7, max_iterations=100)
    full = scores_dict(pagerank(g1, tolerance=1e-7, max_iterations=100))
    got = scores_dict(inc)
    for k in full:
        assert abs(got[k] - full[k]) < 1e-5
    # first superstep's frontier: nodes with |residual| > tol — the chain
    # upstream of the change has zero residual, so well under half of n
    first_active = inc.metrics[0]["active"] if inc.metrics else None
    assert first_active is not None and first_active < (n + 1) // 2


def _f2_perturbation(spark):
    """``(base graph, perturbed graph)``: F2 unweighted, then one edge
    dropped and two added, one of them to a new node 99."""
    base_edges = [(a, b) for (a, b, *_r) in F2_EDGES]
    return (build_graph(spark, base_edges, F2_NODES),
            build_graph(spark, base_edges[1:] + [(0, 6), (3, 99)],
                        list(F2_NODES) + [99]))


@pytest.mark.parametrize("fixture", ["F1", "F2", "F2_warm"])
def test_pagerank_tiers_agree_on_run_records(spark, fixture):
    """The driver-local plan and the join plan stop at the same superstep
    and leave the same per-superstep activity and row counts — a warm
    start's residual exchange included."""
    if fixture == "F1":
        g = build_graph(spark, F1_EDGES, F1_NODES)
    elif fixture == "F2":
        g = build_graph(spark, F2_EDGES, F2_NODES, weighted=True)
    else:
        g0, g = _f2_perturbation(spark)
        prev = pagerank(g0, damping_factor=0.5, tolerance=1e-9,
                        max_iterations=60).scores
    runs = {}
    for t in ("local", "memory"):
        with pinned_tier(t):
            if fixture == "F2_warm":
                res = pagerank_incremental(g, prev, tolerance=1e-4)
            else:
                res = pagerank(g, tolerance=1e-4)
        runs[t] = res
        assert {m["tier"] for m in res.metrics} == {t}
    local, memory = runs["local"], runs["memory"]
    assert local.ran_iterations == memory.ran_iterations
    assert local.converged == memory.converged
    assert [(m["superstep"], m["active"], m["rows"]) for m in local.metrics] \
        == [(m["superstep"], m["active"], m["rows"]) for m in memory.metrics]
    for a, b in zip(local.metrics, memory.metrics):
        assert a["delta_max"] == pytest.approx(b["delta_max"], abs=1e-12)
        assert a["rank_sum"] == pytest.approx(b["rank_sum"], abs=1e-12)


@both_tiers
def test_pagerank_incremental_first_exchange_is_the_residual(spark):
    """A warm start's first exchange computes ``α + d·Pᵀ·prev − prev`` and
    leaves the first metrics record, so every counted superstep has one."""
    d, tol = 0.5, 1e-4
    g0, g1 = _f2_perturbation(spark)
    prev = scores_dict(pagerank(g0, damping_factor=0.5, tolerance=1e-9,
                                max_iterations=60))
    prev_df = spark.createDataFrame(list(prev.items()), "node_id long, score double")
    inc = pagerank_incremental(g1, prev_df, damping_factor=d, tolerance=tol)
    assert len(inc.metrics) == inc.ran_iterations

    ids = sorted({r["node_id"] for r in g1.nodes.collect()})
    edges = [(r["src"], r["dst"]) for r in g1.edges.collect()]
    x = np.array([prev.get(i, 0.0) for i in ids])
    pos = {v: k for k, v in enumerate(ids)}
    out_deg = np.zeros(len(ids))
    for a, _ in edges:
        out_deg[pos[a]] += 1
    inflow = np.zeros(len(ids))
    for a, b in edges:
        inflow[pos[b]] += x[pos[a]] / out_deg[pos[a]]
    residual = (1 - d) + d * inflow - x
    assert inc.metrics[0]["active"] == int((np.abs(residual) > tol).sum())
