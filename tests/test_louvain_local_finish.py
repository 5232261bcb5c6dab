"""Louvain local finish: the size-gated driver-side solver must be
bit-identical to the distributed sub-round schedule (same assignments,
levels, iterations, convergence flag; modularity to 1e-9).

The engine's size policy is pinned per call with ``loop_state.pinned_tier``
so both paths run on the same input: ``"memory"`` pins the pure distributed
kernel (memory truncation, AQE on), ``"parquet"`` the above-gate chained
schedule, ``"local"`` the local path from level 0.
"""

import random

import pytest

from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators import louvain as louvain_mod
from graph_data_science_spark.operators.louvain import (
    _local_solve,
    _round6_half_up,
    louvain,
    modularity_optimization,
)
from graph_data_science_spark.plans import loop_state
from graph_data_science_spark.plans.loop_state import pinned_tier
from tests.conftest import rows_to_dict


def _random_graph(spark, seed, weighted):
    rng = random.Random(seed)
    n = rng.choice([12, 40, 80])
    p = rng.choice([0.06, 0.15, 0.3])
    pairs = [(u, v) for u in range(n) for v in range(u, n)
             if rng.random() < p]
    if weighted:
        rows = [(u, v, float(rng.randint(1, 5))) for u, v in pairs]
        edf = spark.createDataFrame(
            rows, "src long, dst long, weight double")
    else:
        edf = edges_from_tuples(spark, pairs)
    ndf = spark.createDataFrame([(i,) for i in range(n)], "node_id long")
    from graph_data_science_spark.graph import Graph
    return Graph(ndf, edf)


@pytest.mark.parametrize("seed,weighted", [(7, False), (8, True), (9, False)])
def test_local_finish_parity_random(spark, seed, weighted):
    g = _random_graph(spark, seed, weighted)
    with pinned_tier("memory"):
        dist = louvain(g, max_levels=3, max_iterations=4)
    with pinned_tier("local"):
        loc = louvain(g, max_levels=3, max_iterations=4)
    assert (rows_to_dict(dist.communities, "node_id", "community")
            == rows_to_dict(loc.communities, "node_id", "community"))
    assert dist.ran_levels == loc.ran_levels
    assert dist.ran_iterations == loc.ran_iterations
    assert dist.converged == loc.converged
    assert dist.modularity == pytest.approx(loc.modularity, abs=1e-9)


def test_local_finish_parity_modularity_optimization(spark):
    g = _random_graph(spark, 11, True)
    with pinned_tier("memory"):
        dist = modularity_optimization(g, max_iterations=4)
    with pinned_tier("local"):
        loc = modularity_optimization(g, max_iterations=4)
    # the above-gate schedule: sub-rounds chained, one truncate per iteration
    with pinned_tier("parquet"):
        above = modularity_optimization(g, max_iterations=4)
    want = rows_to_dict(loc.communities, "node_id", "community")
    for res in (dist, above):
        assert rows_to_dict(res.communities, "node_id", "community") == want
        assert res.converged == loc.converged
        assert res.modularity == pytest.approx(loc.modularity, abs=1e-9)
    assert above.ran_iterations == dist.ran_iterations


def test_local_finish_engages_midway(spark, monkeypatch):
    # size threshold between level 0 (16 undirected edges, 12 nodes) and
    # the coarse level-1 graph: level 0 runs distributed, level 1 finishes
    # locally, exercising the mapping-composition join branch
    tris = []
    for t in range(4):
        b = 3 * t
        tris += [(b, b + 1), (b + 1, b + 2), (b, b + 2)]
    ring = [(2, 3), (5, 6), (8, 9), (11, 0)]
    g = graph_from_edges(spark, edges_from_tuples(spark, tris + ring))
    with pinned_tier("memory"):
        dist = louvain(g)
    solved = []  # supernode count of each local finish
    real = louvain_mod._local_solve

    def spy(src, dst, w, ids, *args):
        solved.append(len(ids))
        return real(src, dst, w, ids, *args)

    monkeypatch.setattr(louvain_mod, "_local_solve", spy)
    monkeypatch.setattr(loop_state, "LARGE_STATE_ROWS", 12)
    mid = louvain(g)
    assert len(solved) == 1 and solved[0] < 12, solved
    assert (rows_to_dict(dist.communities, "node_id", "community")
            == rows_to_dict(mid.communities, "node_id", "community"))
    assert dist.ran_levels == mid.ran_levels
    assert dist.modularity == pytest.approx(mid.modularity, abs=1e-9)


def test_round6_half_up_matches_spark_semantics():
    import numpy as np
    v = np.array([0.1234565, -0.1234565, 1.9999995, 2.5e-7, -2.5e-7,
                  0.9999994999, 123456.1234565])
    r = _round6_half_up(v)
    # HALF_UP on the shortest-decimal expansion (BigDecimal semantics):
    # 0.1234565 parses to a double slightly below/above the boundary; the
    # shortest repr IS "0.1234565", so HALF_UP rounds away from zero
    assert r[0] == pytest.approx(0.123457, abs=0)
    assert r[1] == pytest.approx(-0.123457, abs=0)
    assert r[2] == pytest.approx(2.0, abs=0)
    assert r[3] == pytest.approx(0.0, abs=1e-12) or r[3] == 0.0
    assert r[6] == pytest.approx(123456.123457, abs=1e-9)


def test_local_solve_isolated_nodes():
    # isolated supernodes stay singleton communities
    import numpy as np
    src = np.array([0, 1], dtype=np.int64)
    dst = np.array([1, 0], dtype=np.int64)
    w = np.array([1.0, 1.0])
    ids = np.array([0, 1, 5], dtype=np.int64)  # node 5 isolated
    labels, levels, iters, conv = _local_solve(
        src, dst, w, ids, 1.0, 3, 4, 2, 1.0)
    got = dict(zip(ids.tolist(), labels.tolist()))
    assert got[5] == 5
    assert got[0] == got[1]
    assert conv
