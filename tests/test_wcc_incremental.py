"""Incremental WCC: contracted-graph merge ≡ full recompute on the union."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.wcc import wcc, wcc_incremental


def _labels(df):
    return {r["node_id"]: r["component"] for r in df.collect()}


def _full(spark, edges):
    return _labels(wcc(graph_from_edges(
        spark, edges_from_tuples(spark, edges))).components)


def test_incremental_merges_components(spark):
    base = [(0, 1), (2, 3), (4, 5)]
    prev = wcc(graph_from_edges(spark, edges_from_tuples(spark, base)))
    # one edge chains two components; another adds a brand-new node
    delta = [(1, 2), (5, 6)]
    got = _labels(wcc_incremental(
        prev.components, edges_from_tuples(spark, delta)).components)
    assert got == _full(spark, base + delta)
    # min-node-id convention preserved: {0,1,2,3} → 0, {4,5,6} → 4
    assert got[3] == 0 and got[6] == 4


def test_incremental_no_merge_batch_is_cheap_noop(spark):
    base = [(0, 1), (2, 3)]
    prev = wcc(graph_from_edges(spark, edges_from_tuples(spark, base)))
    # duplicate edges + an intra-component edge: nothing merges
    res = wcc_incremental(prev.components,
                          edges_from_tuples(spark, [(0, 1), (1, 0)]))
    assert res.ran_iterations == 0 and res.converged
    assert _labels(res.components) == _full(spark, base)


def test_incremental_leaves_no_cached_frame(spark):
    """Neither a merge nor a no-merge batch leaves a DataFrame cached: the
    streaming maintainer calls wcc_incremental once per micro-batch."""
    base = [(0, 1), (2, 3)]
    prev = wcc(graph_from_edges(spark, edges_from_tuples(spark, base)))
    spark.catalog.clearCache()
    merged = wcc_incremental(prev.components,
                             edges_from_tuples(spark, [(1, 2), (5, 6)]))
    assert _labels(merged.components) == {0: 0, 1: 0, 2: 0, 3: 0, 5: 5, 6: 5}
    noop = wcc_incremental(prev.components,
                           edges_from_tuples(spark, [(0, 1)]))
    assert noop.ran_iterations == 0
    assert _labels(noop.components) == {0: 0, 1: 0, 2: 2, 3: 2}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_incremental_transitive_chain_within_one_batch(spark):
    base = [(0, 1), (2, 3), (4, 5), (6, 7)]
    prev = wcc(graph_from_edges(spark, edges_from_tuples(spark, base)))
    # batch edges chain FOUR components transitively: 0-1 ~ 2-3 ~ 4-5 ~ 6-7
    delta = [(1, 2), (3, 4), (5, 6)]
    got = _labels(wcc_incremental(
        prev.components, edges_from_tuples(spark, delta)).components)
    assert got == _full(spark, base + delta)
    assert set(got.values()) == {0}


def test_incremental_any_batch_split_equals_union(spark):
    # random-ish deterministic graph, drained under two different splits
    edges = [(i, (i * 3 + 1) % 17) for i in range(17)] + [(20, 21), (21, 22)]
    want = _full(spark, edges)
    for cut1, cut2 in ((5, 11), (1, 16)):
        prev = wcc(graph_from_edges(
            spark, edges_from_tuples(spark, edges[:cut1]))).components
        prev = wcc_incremental(
            prev, edges_from_tuples(spark, edges[cut1:cut2])).components
        got = _labels(wcc_incremental(
            prev, edges_from_tuples(spark, edges[cut2:])).components)
        assert got == want, (cut1, cut2)


def test_incremental_threshold_filters_delta(spark):
    base = [(0, 1)]
    prev = wcc(graph_from_edges(spark, edges_from_tuples(spark, base)))
    delta = spark.createDataFrame([(1, 2, 0.5), (3, 4, 3.0)],
                                  "src long, dst long, weight double")
    got = _labels(wcc_incremental(prev.components, delta,
                                  threshold=2.0).components)
    # (1,2) is below threshold: 2 never appears, 3-4 merge as a new component
    assert 2 not in got
    assert got[0] == got[1] == 0 and got[3] == got[4] == 3


def test_streaming_wcc_matches_batch_recompute(spark, tmp_path):
    from graph_data_science_spark.streaming.ingest import run_streaming_wcc

    drop = os.path.join(str(tmp_path), "wcc_drop")
    state = os.path.join(str(tmp_path), "wcc_state")
    e1 = [(0, 1), (1, 2), (4, 5)]
    e2 = [(2, 4), (6, 7)]

    spark.createDataFrame(e1, "src long, dst long").write.mode(
        "append").parquet(drop)
    s1 = _labels(run_streaming_wcc(spark, drop, state))
    assert s1 == _full(spark, e1)

    # second drain resumes from the marker; labels summarize all past edges
    spark.createDataFrame(e2, "src long, dst long").write.mode(
        "append").parquet(drop)
    s2 = _labels(run_streaming_wcc(spark, drop, state))
    assert s2 == _full(spark, e1 + e2)


# -- property: incremental drain ≡ union-find on the union --------------------

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402


@st.composite
def _batched_edges(draw):
    n = draw(st.integers(min_value=2, max_value=14))
    m = draw(st.integers(min_value=2, max_value=30))
    pairs = draw(st.lists(
        st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
        min_size=m, max_size=m))
    edges = [(a, b) for a, b in pairs if a != b] or [(0, 1)]
    cut = draw(st.integers(0, len(edges)))
    return n, edges, cut


@given(data=_batched_edges())
@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_property_union_find(spark, data):
    n, edges, cut = data
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp_min = {}
    for v in range(n):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    # only nodes that appear in some edge exist in the incremental result
    touched = {v for e in edges for v in e}
    expect = {v: comp_min[find(v)] for v in touched}

    base, delta = edges[:cut], edges[cut:]
    if base:
        prev = wcc(graph_from_edges(
            spark, edges_from_tuples(spark, base))).components
    else:
        prev = spark.createDataFrame([], "node_id long, component long")
    if delta:
        got_df = wcc_incremental(
            prev, edges_from_tuples(spark, delta)).components
    else:
        got_df = prev
    assert _labels(got_df) == expect
