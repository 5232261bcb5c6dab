"""GraphSAGE: distributed forward pass vs a pure-numpy reference, sampling
cap, trainer loss descent + determinism."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.graphsage import (
    degree_features,
    graphsage_predict,
    graphsage_train,
    init_weights,
)

EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (1, 4),
         (6, 0), (6, 5)]
NODES = list(range(7))


@pytest.fixture(scope="module")
def g(spark):
    return graph_from_edges(
        spark, edges_from_tuples(spark, EDGES),
        spark.createDataFrame([(v,) for v in NODES], "node_id long"))


def _numpy_forward(feats, weights):
    """Full-neighborhood mean-agg forward pass, mirroring graphsage_predict
    with sample_sizes=None."""
    n = len(feats)
    X = np.array(feats, dtype=np.float64)
    A = np.zeros((n, n))
    for s, d in set(EDGES):
        A[d, s] += 1.0
    indeg = A.sum(axis=1, keepdims=True)
    A = np.divide(A, np.where(indeg == 0, 1.0, indeg))
    h = X
    for layer in weights:
        hn = A @ h
        pre = h @ np.array(layer["w_self"]).T + hn @ np.array(layer["w_neigh"]).T
        act = np.maximum(pre, 0.0)
        nrm = np.linalg.norm(act, axis=1, keepdims=True)
        h = np.divide(act, np.where(nrm == 0, 1.0, nrm))
    return h


def test_predict_matches_numpy(spark, g):
    feats = degree_features(g)
    fmap = {r["node_id"]: list(r["features"]) for r in feats.collect()}
    w = init_weights([3, 4, 2], seed=7)
    out = graphsage_predict(g, feats, w, seed=7)
    got = {r["node_id"]: list(r["embedding"]) for r in out.collect()}
    want = _numpy_forward([fmap[v] for v in NODES], w)
    for v in NODES:
        assert got[v] == pytest.approx(list(want[v]), abs=2e-6), v


def test_degree_features_values(spark, g):
    fmap = {r["node_id"]: list(r["features"]) for r in
            degree_features(g).collect()}
    # node 2: out {0,3}, in {1}; node 6: out {0,5}, in {}
    assert fmap[2] == pytest.approx([math.log(3), math.log(2), 1.0])
    assert fmap[6] == pytest.approx([math.log(3), 0.0, 1.0])


def test_sampling_caps_neighbors(spark, g):
    # sample_sizes=[1]: each node aggregates exactly one in-neighbor; the
    # result must differ from the full mean for nodes with in-degree > 1
    # and be deterministic across invocations.
    feats = degree_features(g)
    w = init_weights([3, 3], seed=4)
    a = graphsage_predict(g, feats, w, sample_sizes=[1], seed=4)
    b = graphsage_predict(g, feats, w, sample_sizes=[1], seed=4)
    full = graphsage_predict(g, feats, w, seed=4)
    am = {r["node_id"]: tuple(r["embedding"]) for r in a.collect()}
    bm = {r["node_id"]: tuple(r["embedding"]) for r in b.collect()}
    fm = {r["node_id"]: tuple(r["embedding"]) for r in full.collect()}
    assert am == bm
    assert any(am[v] != fm[v] for v in NODES)


def test_train_distributed_descends_and_partition_invariant(spark, g):
    """The trainer: executor-resident state, integer-fixed-point
    reductions. Bit-identical weights and loss history at 2 vs 8 shuffle
    partitions (the local[2]/local[8] proxy — every cross-row sum is an
    integer, so no float summation-order dependence exists), and the
    full-batch loss descends."""
    feats = degree_features(g)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        w2, h2 = graphsage_train(g, feats, [3, 4, 4], epochs=4,
                                 learning_rate=0.1, seed=3,
                                 return_history=True)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        w8, h8 = graphsage_train(g, feats, [3, 4, 4], epochs=4,
                                 learning_rate=0.1, seed=3,
                                 return_history=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert (w2, h2) == (w8, h8)
    assert h2[-1] < h2[0]


def test_trained_weights_feed_distributed_predict(spark, g):
    feats = degree_features(g)
    w = graphsage_train(g, feats, [3, 4, 4], epochs=2, seed=3)
    out = graphsage_predict(g, feats, w, seed=3)
    assert out.count() == len(NODES)
    # per-layer L2 normalization: non-zero embeddings have unit norm
    norms = out.select(F.sqrt(F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x * x)).alias("n")) \
        .collect()
    for r in norms:
        assert r["n"] == pytest.approx(1.0, abs=1e-6) or r["n"] == 0.0

