"""Node similarity + embedding ANN operators."""

import numpy as np
import pytest

from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    node_similarity,
)


def test_node_similarity_jaccard(spark):
    # doc-style: persons → instruments bipartite
    # 0,1 share {10,11}; 0 has {10,11,12}, 1 has {10,11}, 2 has {12}
    edges = edges_from_tuples(
        spark, [(0, 10), (0, 11), (0, 12), (1, 10), (1, 11), (2, 12)]
    )
    g = graph_from_edges(spark, edges)
    got = {(r["node1"], r["node2"]): r["similarity"]
           for r in node_similarity(g).collect()}
    assert got[(0, 1)] == pytest.approx(2 / 3, abs=1e-6)
    assert got[(0, 2)] == pytest.approx(1 / 3, abs=1e-6)
    assert (1, 2) not in got  # no shared neighbor
    assert got[(1, 0)] == got[(0, 1)]


def test_node_similarity_topk(spark):
    edges = edges_from_tuples(
        spark, [(0, 10), (1, 10), (2, 10), (3, 10)]
    )
    g = graph_from_edges(spark, edges)
    rows = node_similarity(g, top_k=2).collect()
    per_node = {}
    for r in rows:
        per_node.setdefault(r["node1"], []).append(r["node2"])
    assert all(len(v) <= 2 for v in per_node.values())
    # tie-break: smaller node2 first
    assert sorted(per_node[0]) == per_node[0]


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).tolist()) for i in range(50)]
    # plant a near-identical pair
    rows[41] = (41, (np.array(rows[40][1]) + 1e-4).tolist())
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(vecs):
    rows = cosine_topk(vecs, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["vec_id"], []).append((r["neighbor_id"], r["cosine"]))
    assert len(by_q) == 50 and all(len(v) == 3 for v in by_q.values())
    assert by_q[40][0][0] == 41 and by_q[40][0][1] > 0.999999
    assert by_q[41][0][0] == 40
    # brute-force verification for one query
    pdf = vecs.toPandas().sort_values("vec_id")
    m = np.array([np.array(v) for v in pdf["embedding"]])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m[7]
    sims[7] = -np.inf
    want = set(np.argsort(-sims)[:3].tolist())
    got = {n for n, _ in by_q[7]}
    assert got == want


def test_cosine_topk_ivf_recall(vecs):
    exact = cosine_topk(vecs, k=5).collect()
    approx = cosine_topk_ivf(vecs, k=5, n_clusters=8, n_probe=4).collect()
    e = {}
    for r in exact:
        e.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    a = {}
    for r in approx:
        a.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.6  # probing half the clusters
    # the planted near-dup must survive approximation
    assert 41 in a[40]


def test_knn_on_node_properties(spark):
    from graph_data_science_spark.graph import Graph, edges_from_tuples
    from graph_data_science_spark.operators.similarity import knn

    nodes = spark.createDataFrame(
        [(0, 1.0, 0.0), (1, 0.9, 0.1), (2, 0.0, 1.0), (3, 0.1, 0.9)],
        "node_id long, x double, y double")
    g = Graph(nodes=nodes, edges=edges_from_tuples(spark, [(0, 1)]))
    got = {r["node1"]: r["node2"] for r in knn(g, ["x", "y"], top_k=1).collect()}
    assert got == {0: 1, 1: 0, 2: 3, 3: 2}


def test_cosine_topk_tiled_equals_broadcast(vecs):
    """A 3-shard × 2-block tiling returns exactly the brute-force top-k of
    the whole matrix (the answer a single broadcast index gives): cosine
    rounded to 6 places, ties to the smaller id, self excluded."""
    tiled = cosine_topk(vecs, k=4, index_shards=3, query_blocks=2).collect()
    pdf = vecs.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    m = np.array([np.array(v) for v in pdf["embedding"]])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 6)
    want = []
    for qi, q in enumerate(ids):
        order = [j for j in np.lexsort((ids, -sims[qi])) if j != qi][:4]
        want += [(q, ids[j], sims[qi, j]) for j in order]
    got = sorted((r["vec_id"], r["neighbor_id"], r["cosine"]) for r in tiled)
    assert got == sorted(want)


def test_node_similarity_hot_neighbor_cap(spark):
    # hub 99 shared by everyone; pair (0,1) also shares 10
    edges = edges_from_tuples(
        spark, [(i, 99) for i in range(5)] + [(0, 10), (1, 10)])
    g = graph_from_edges(spark, edges)
    exact = {(r["node1"], r["node2"]): r["similarity"]
             for r in node_similarity(g).collect()}
    capped = {(r["node1"], r["node2"]): r["similarity"]
              for r in node_similarity(g, max_neighbor_frequency=3).collect()}
    # hub-only pairs disappear; (0,1) survives via the cool neighbor but is
    # undercounted (1 shared instead of 2) — similarity only ever drops
    assert (2, 3) in exact and (2, 3) not in capped
    assert capped[(0, 1)] <= exact[(0, 1)]


def test_node_similarity_filtered(spark):
    edges = edges_from_tuples(
        spark, [(0, 10), (1, 10), (2, 10), (3, 10)])
    g = graph_from_edges(spark, edges)
    rows = node_similarity(g, source_node_filter="node_id <= 1",
                           target_node_filter="node_id >= 2").collect()
    assert rows and all(r["node1"] <= 1 and r["node2"] >= 2 for r in rows)


def test_knn_filtered(spark):
    from graph_data_science_spark.graph import Graph
    from graph_data_science_spark.operators.similarity import knn

    nodes = spark.createDataFrame(
        [(0, 1.0, 0.0), (1, 0.9, 0.1), (2, 0.0, 1.0), (3, 0.1, 0.9)],
        "node_id long, x double, y double")
    g = Graph(nodes=nodes, edges=edges_from_tuples(spark, [(0, 1)]))
    rows = knn(g, ["x", "y"], top_k=1,
               source_node_filter="node_id <= 1",
               target_node_filter="node_id >= 2").collect()
    got = {r["node1"]: r["node2"] for r in rows}
    # queries restricted to {0,1}; candidates to {2,3}: nearest allowed
    # target of 0 and 1 is 3 (0.1, 0.9) over 2 (0.0, 1.0)
    assert set(got) == {0, 1} and got[0] == 3 and got[1] == 3


def test_nn_descent_recall_vs_exact(vecs):
    """NN-descent must reach ≥0.9 mean recall@5 against the exact tiled
    kernel on the 50×16 fixture — the reference's approximate contract
    (Knn.java:51), not output equality."""
    from graph_data_science_spark.operators.similarity import knn_nn_descent

    exact = cosine_topk(vecs, k=5).collect()
    approx = knn_nn_descent(vecs, k=5, max_iterations=8, seed=42).collect()
    e, a = {}, {}
    for r in exact:
        e.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    for r in approx:
        a.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.9
    # the planted near-dup pair is mutual-best — NN-descent must find it
    assert 41 in a[40] and 40 in a[41]


def test_nn_descent_deterministic(vecs):
    from graph_data_science_spark.operators.similarity import knn_nn_descent

    r1 = sorted(map(tuple, knn_nn_descent(vecs, k=3, seed=42).collect()))
    r2 = sorted(map(tuple, knn_nn_descent(vecs, k=3, seed=42).collect()))
    assert r1 == r2


def test_knn_method_dispatch(spark):
    from graph_data_science_spark.graph import Graph, edges_from_tuples
    from graph_data_science_spark.operators.similarity import knn

    nodes = spark.createDataFrame(
        [(0, 1.0, 0.0), (1, 0.9, 0.1), (2, 0.0, 1.0), (3, 0.1, 0.9)],
        "node_id long, x double, y double")
    g = Graph(nodes=nodes, edges=edges_from_tuples(spark, [(0, 1)]))
    got = {r["node1"]: r["node2"]
           for r in knn(g, ["x", "y"], top_k=1, method="nn_descent").collect()}
    assert got == {0: 1, 1: 0, 2: 3, 3: 2}
    # filtered nn-descent (FilteredKnn.java design): sources {0,1} emit,
    # neighbors restricted to targets {2,3} — same answer as filtered exact
    rows = knn(g, ["x", "y"], top_k=1, method="nn_descent",
               source_node_filter="node_id <= 1",
               target_node_filter="node_id >= 2").collect()
    fgot = {r["node1"]: r["node2"] for r in rows}
    assert set(fgot) == {0, 1} and fgot[0] == 3 and fgot[1] == 3


def test_nn_descent_filtered_recall(vecs):
    """Filtered nn-descent: target-only lists must reach ≥0.9 mean recall
    against the filtered EXACT kernel (index restricted to targets,
    queries to sources), and never emit a non-target neighbor or a
    non-source query row."""
    from graph_data_science_spark.operators.similarity import knn_nn_descent

    targets = vecs.where("vec_id % 2 = 0").select("vec_id")
    sources = vecs.where("vec_id < 25").select("vec_id")
    exact = cosine_topk(vecs.join(targets, "vec_id", "left_semi"), k=5,
                        queries=vecs.join(sources, "vec_id", "left_semi")
                        ).collect()
    approx = knn_nn_descent(vecs, k=5, max_iterations=8, seed=42,
                            source_ids=sources, target_ids=targets).collect()
    assert all(r["neighbor_id"] % 2 == 0 for r in approx)
    assert all(r["vec_id"] < 25 for r in approx)
    e, a = {}, {}
    for r in exact:
        e.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    for r in approx:
        a.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.9


def test_knn_auto_posture(spark):
    """method='auto' picks exact below the vector-count threshold
    (bit-identical to the exact path) and nn-descent at/above it
    (bit-identical to the nn_descent path, recall guaranteed by its own
    contract test)."""
    from graph_data_science_spark.graph import Graph, edges_from_tuples
    from graph_data_science_spark.operators.similarity import knn

    nodes = spark.createDataFrame(
        [(0, 1.0, 0.0), (1, 0.9, 0.1), (2, 0.0, 1.0), (3, 0.1, 0.9)],
        "node_id long, x double, y double")
    g = Graph(nodes=nodes, edges=edges_from_tuples(spark, [(0, 1)]))
    exact = sorted(map(tuple, knn(g, ["x", "y"], top_k=2,
                                  method="exact").collect()))
    below = sorted(map(tuple, knn(g, ["x", "y"], top_k=2, method="auto",
                                  auto_threshold=1000).collect()))
    assert below == exact
    nnd = sorted(map(tuple, knn(g, ["x", "y"], top_k=2,
                                method="nn_descent").collect()))
    above = sorted(map(tuple, knn(g, ["x", "y"], top_k=2, method="auto",
                                  auto_threshold=1).collect()))
    assert above == nnd


def test_node_similarity_auto_cap_engages_on_hub(spark):
    """auto mode: exact when pair volume fits the budget; otherwise the cap
    is the largest frequency class whose cumulative pair volume fits, so
    the hub classes emitting the quadratic bulk are pruned — and when even
    the smallest class alone blows the budget, that class is kept anyway
    (best-effort, never a silent empty result)."""
    from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges

    # 30 spokes sharing one hub neighbor (f=30 → C(30,2)=435 pairs) plus a
    # mild shared neighbor of 3 nodes (f=3 → 3 pairs)
    edges = edges_from_tuples(
        spark, [(i, 999) for i in range(30)] + [(i, 888) for i in range(3)])
    g = graph_from_edges(spark, edges)
    exact = node_similarity(g, max_neighbor_frequency=None).count()
    auto_roomy = node_similarity(g).count()  # budget floor 1e7 ≫ 438 → exact
    assert auto_roomy == exact
    # budget 10 affords the f=3 class (3 pairs) but not the f=30 hub: the
    # cap prunes the hub, keeps the mild pairs
    capped = node_similarity(g, pair_budget=10).count()
    assert 0 < capped < exact
    # single-class graph where even the smallest class exceeds the budget:
    # best-effort keeps the class instead of silently returning nothing
    hub_only = graph_from_edges(
        spark, edges_from_tuples(spark, [(i, 999) for i in range(30)]))
    floor = node_similarity(hub_only, pair_budget=10).count()
    assert floor == node_similarity(
        hub_only, max_neighbor_frequency=None).count()


def test_kmeans_sample_init_matches_first_on_request(spark):
    import numpy as np
    from graph_data_science_spark.operators.clustering import kmeans

    rng = np.random.RandomState(3)
    blob_a = [(i, (rng.randn(4) + 5).tolist()) for i in range(20)]
    blob_b = [(100 + i, (rng.randn(4) - 5).tolist()) for i in range(20)]
    df = spark.createDataFrame(blob_a + blob_b,
                               "vec_id long, embedding array<double>")
    for init in ("sample", "first"):
        got = {r["id"]: r["cluster"]
               for r in kmeans(df, k=2, init=init).assignment.collect()}
        a = {got[i] for i in range(20)}
        b = {got[100 + i] for i in range(20)}
        assert len(a) == 1 and len(b) == 1 and a != b, init
    with pytest.raises(ValueError, match="unknown init"):
        kmeans(df, k=2, init="nope")
