"""The driver-local plan of PageRank and triangle counting: which plan the
size policy picks, what a run leaves cached, what it reports, and the one
driver view of a Graph (``Graph.local()``) both kernels read.

The gate is moved by monkeypatching ``loop_state.LARGE_STATE_ROWS`` (the
one size threshold ``loop_state.tier`` applies); the plan that ran shows in
PageRank's metrics records (``"tier"``) and in a spy on the triangle
kernels."""

import itertools
import os

import numpy as np
import pytest

from graph_data_science_spark import progress
from graph_data_science_spark.graph import (
    REVERSE, UNDIRECTED, Graph, edges_from_tuples)
from graph_data_science_spark.operators import pagerank as pagerank_module
from graph_data_science_spark.operators import triangle as triangle_module
from graph_data_science_spark.operators.pagerank import (
    article_rank, pagerank, pagerank_incremental)
from graph_data_science_spark.operators.triangle import (
    triangle_count, triangles)
from graph_data_science_spark.plans import loop_state
from graph_data_science_spark.plans.loop_state import pinned_tier
from tests.conftest import both_tiers
from tests.fixtures import F1_EDGES, F1_NODES, F2_EDGES, F2_NODES


def _graph(spark, edges, node_count, weighted=False):
    return Graph(
        nodes=spark.createDataFrame([(i,) for i in range(node_count)],
                                    "node_id long"),
        edges=edges_from_tuples(spark, edges, weighted=weighted))


def _scores(res):
    return {r["node_id"]: r["score"] for r in res.scores.collect()}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# 4 edges on 10 nodes, and 6 edges on 4 nodes (two triangles)
_FEW_EDGES = ([(0, 1), (1, 2), (2, 0), (2, 3)], 10)
_FEW_NODES = ([(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3)], 4)


@pytest.mark.parametrize("case", [_FEW_EDGES, _FEW_NODES],
                         ids=["nodes_reach_gate", "edges_reach_gate"])
def test_pagerank_join_plan_when_either_count_reaches_gate(
        spark, monkeypatch, case):
    edges, n = case
    g = _graph(spark, edges, n)
    monkeypatch.setattr(loop_state, "LARGE_STATE_ROWS", 5)
    res = pagerank(g, tolerance=0.0, max_iterations=2)
    assert res.metrics and "local" not in {m["tier"] for m in res.metrics}
    monkeypatch.setattr(loop_state, "LARGE_STATE_ROWS", 11)
    res = pagerank(g, tolerance=0.0, max_iterations=2)
    assert {m["tier"] for m in res.metrics} == {"local"}


@pytest.mark.parametrize("case", [_FEW_EDGES, _FEW_NODES],
                         ids=["nodes_reach_gate", "edges_reach_gate"])
def test_triangle_join_plan_when_either_count_reaches_gate(
        spark, monkeypatch, case):
    edges, n = case
    calls = []
    real = triangle_module._local_triangles

    def spy(*a):
        calls.append(a)
        return real(*a)

    monkeypatch.setattr(triangle_module, "_local_triangles", spy)
    monkeypatch.setattr(loop_state, "LARGE_STATE_ROWS", 5)
    joined = triangle_count(_graph(spark, edges, n))
    assert not calls
    monkeypatch.setattr(loop_state, "LARGE_STATE_ROWS", 11)
    local = triangle_count(_graph(spark, edges, n))
    assert len(calls) == 1
    assert local.global_count == joined.global_count
    assert sorted(local.per_node.collect()) == sorted(joined.per_node.collect())


def test_local_tier_leaves_nothing_cached(spark):
    g = _graph(spark, F1_EDGES, len(F1_NODES))
    spark.catalog.clearCache()
    with pinned_tier("local"):
        prev = pagerank(g).scores
        pagerank_incremental(g, prev).scores.collect()
        assert _cache_empty(spark)
        triangle_count(g).per_node.collect()
    assert _cache_empty(spark)


def test_failed_local_run_leaves_nothing_cached_and_is_marked(
        spark, monkeypatch):
    g = _graph(spark, F1_EDGES, len(F1_NODES))
    spark.catalog.clearCache()
    progress.clear()

    def fail(*a, **k):
        raise RuntimeError("superstep failed")

    monkeypatch.setattr(pagerank_module.progress, "update", fail)
    with pinned_tier("local"), pytest.raises(RuntimeError, match="superstep"):
        pagerank(g, tolerance=0.0, max_iterations=3)
    assert _cache_empty(spark)
    rows = [r for r in progress.list_progress() if r["task_name"] == "pagerank"]
    assert [r["status"] for r in rows] == ["FAILED"]


def test_local_pagerank_reports_progress(spark):
    g = _graph(spark, F1_EDGES, len(F1_NODES))
    progress.clear()
    with pinned_tier("local"):
        res = pagerank(g, tolerance=0.0, max_iterations=6)
    rows = [r for r in progress.list_progress() if r["task_name"] == "pagerank"]
    assert len(rows) == 1
    assert rows[0]["status"] == "FINISHED"
    assert rows[0]["volume_total"] == 5 == rows[0]["volume_done"]
    assert len(res.metrics) == 5


def test_checkpointed_run_keeps_the_join_plan(spark, tmp_path):
    g = _graph(spark, F1_EDGES, len(F1_NODES))
    ckpt = str(tmp_path / "pr")
    with pinned_tier("local"):
        res = pagerank(g, tolerance=0.0, max_iterations=4, checkpoint_dir=ckpt)
    assert {m["tier"] for m in res.metrics} <= {"memory", "parquet"}
    snaps = os.listdir(os.path.join(ckpt, "state"))
    assert {"superstep=00000", "superstep=00001", "superstep=00002"} <= set(snaps)


def test_local_triangles_over_several_wedge_passes(spark):
    """A clique has C(n,3) wedges, all closed, against C(n,2) edges, so the
    driver-local plan takes several passes over its wedges."""
    n = 12
    g = _graph(spark, list(itertools.combinations(range(n), 2)), n)
    with pinned_tier("local"):
        res = triangle_count(g)
    assert res.global_count == 220
    assert sorted(map(tuple, res.triangles.collect())) == list(
        itertools.combinations(range(n), 3))
    assert {r["triangles"] for r in res.per_node.collect()} == {55}


def test_pagerank_drops_edges_to_unknown_nodes_on_both_plans(spark):
    """Edges whose endpoint is not a node carry no message, on either
    plan: the join plan's inner and left joins drop them."""
    g = _graph(spark, [(0, 1), (1, 2), (2, 0), (2, 5), (7, 0)], 3)
    runs = {}
    for t in ("local", "memory"):
        with pinned_tier(t):
            runs[t] = {r["node_id"]: r["score"] for r in pagerank(
                g, tolerance=0.0, max_iterations=3).scores.collect()}
    assert set(runs["local"]) == {0, 1, 2}
    assert runs["local"] == pytest.approx(runs["memory"], abs=1e-12)


def test_pagerank_and_triangles_count_a_graph_once(spark, count_calls):
    """PageRank and triangles ask one gate, ``Graph.tier``, whose counts
    the Graph keeps: triangles on a Graph that PageRank ran on count
    nothing."""
    g = _graph(spark, F1_EDGES, len(F1_NODES))
    pagerank(g)
    count_calls.clear()
    triangle_count(g)
    assert count_calls == []


def test_pagerank_and_triangles_collect_a_graph_once(spark, monkeypatch):
    """PageRank, incremental PageRank and triangles on one Graph read one
    driver view: its node ids and edges cross to the driver once, and
    each PageRank run collects only its seed's two columns besides."""
    from pyspark.sql.classic.dataframe import DataFrame

    collected = []
    real = DataFrame.toArrow

    def spy(self):
        table = real(self)
        collected.append(tuple(table.column_names))
        return table

    g = _graph(spark, F1_EDGES, len(F1_NODES))
    monkeypatch.setattr(DataFrame, "toArrow", spy)
    with pinned_tier("local"):
        prev = pagerank(g).scores
        pagerank_incremental(g, prev)
        triangle_count(g)
    assert sorted(collected) == sorted(
        [("node_id",), ("src", "dst"), ("node_id", "rank"),
         ("node_id", "rank")])


def test_derived_graphs_get_their_own_view(spark):
    """A transform's Graph does not share its parent's driver view: after
    PageRank has built ``g``'s view, the local plan on each derived Graph
    matches the join plan on that Graph."""
    g = _graph(spark, [(0, 1, 1.0), (0, 2, 9.0), (1, 2, 1.0), (2, 3, 2.0),
                       (3, 0, 1.0), (4, 0, 1.0)], 5, weighted=True)
    with pinned_tier("local"):
        pagerank(g)
    assert g._local is not None
    for derived in (g.oriented(REVERSE), g.oriented(UNDIRECTED),
                    g.subgraph("node_id < 4", "weight < 5"),
                    g.to_undirected()):
        assert derived._local is None
        runs = {}
        for t in ("local", "memory"):
            with pinned_tier(t):
                runs[t] = _scores(pagerank(derived, tolerance=0.0,
                                           max_iterations=4))
        assert runs["local"] == pytest.approx(runs["memory"], abs=1e-12)


@both_tiers
def test_triangles_keep_edges_to_ids_that_are_not_nodes(spark):
    """Triangles keep every edge, also one whose endpoint is not a node
    (5, 6 and 7 here), while the per-node counts cover the nodes only."""
    g = _graph(spark, [(0, 1), (1, 2), (2, 0), (2, 5), (5, 0), (1, 5),
                       (3, 6), (6, 7), (7, 3)], 5)
    want = [(0, 1, 2), (0, 1, 5), (0, 2, 5), (1, 2, 5), (3, 6, 7)]
    assert sorted(map(tuple, triangles(g).collect())) == want
    res = triangle_count(g)
    assert res.global_count == 5
    assert sorted(map(tuple, res.triangles.collect())) == want
    assert dict(map(tuple, res.per_node.collect())) == {
        0: 3, 1: 3, 2: 3, 3: 1, 4: 0}
    # degree 3 on 0, 1, 2 and 5: only the triangle 3-6-7 survives
    capped = triangle_count(g, max_degree=2)
    assert capped.global_count == 1
    assert dict(map(tuple, capped.per_node.collect())) == {
        0: -1, 1: -1, 2: -1, 3: 1, 4: 0}


def _dense_weighted_pagerank(n, edges, iters, shift, d=0.85):
    """The delta-push recurrence, written as loops: a sender's degree and
    its messages use only its edges with weight > 0."""
    deg = np.zeros(n)
    for a, _, w in edges:
        if w > 0:
            deg[a] += w
    deg += shift
    rank = np.full(n, 1 - d)
    delta = rank.copy()
    for _ in range(iters):
        msg = np.zeros(n)
        for a, b, w in edges:
            if w > 0:
                msg[b] += delta[a] / deg[a] * w
        delta = d * msg
        rank += delta
    return rank


@both_tiers
def test_weighted_ranks_ignore_weights_not_above_zero(spark):
    """F2 with one zero and one negative weight: weighted PageRank and
    ArticleRank leave both edges out of the degree and send nothing along
    them."""
    edges = [(0, 1, 0.0) if (a, b) == (0, 1) else
             (3, 4, -0.05) if (a, b) == (3, 4) else (a, b, w)
             for a, b, w in F2_EDGES]
    g = _graph(spark, edges, len(F2_NODES), weighted=True)
    n, iters = len(F2_NODES), 12
    avg_degree = sum(w for _, _, w in edges if w > 0) / n
    for rank, shift in ((pagerank, 0.0), (article_rank, avg_degree)):
        want = _dense_weighted_pagerank(n, edges, iters, shift)
        got = _scores(rank(g, weighted=True, tolerance=0.0,
                           max_iterations=iters + 1))
        assert [got[i] for i in range(n)] == pytest.approx(want, abs=1e-9)
