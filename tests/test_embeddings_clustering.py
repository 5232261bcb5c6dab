"""FastRP, random walks, k-means, k1coloring."""

import math

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.clustering import k1coloring, kmeans
from graph_data_science_spark.operators.embeddings import fastrp, random_walks
from tests.conftest import rows_to_dict


def _clique_pair(spark):
    # two 4-cliques joined by one edge
    e = []
    for b in (0, 4):
        e += [(b + i, b + j) for i in range(4) for j in range(i + 1, 4)]
    e.append((3, 4))
    return graph_from_edges(spark, edges_from_tuples(spark, e))


def test_fastrp_deterministic_and_normalized(spark):
    g = _clique_pair(spark)
    a = fastrp(g, embedding_dim=8, seed=7).collect()
    b = fastrp(g, embedding_dim=8, seed=7).collect()
    ka = {r["node_id"]: r["embedding"] for r in a}
    kb = {r["node_id"]: r["embedding"] for r in b}
    assert ka == kb  # bit-identical across runs
    assert all(len(v) == 8 for v in ka.values())
    # default weights [0,1,1] sum two unit vectors → norm ≤ 2 (+rounding)
    for v in ka.values():
        assert math.sqrt(sum(x * x for x in v)) <= 2.000001


def test_fastrp_same_clique_nodes_similar(spark):
    g = _clique_pair(spark)
    emb = {r["node_id"]: r["embedding"] for r in
           fastrp(g, embedding_dim=16, seed=1).collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return num / (da * db) if da and db else 0.0

    # nodes 0..2 share all neighbors (4-clique minus the bridge node) —
    # their neighborhoods coincide so embeddings should be close
    assert cos(emb[0], emb[1]) > 0.9
    assert cos(emb[0], emb[5]) < cos(emb[0], emb[1])


def test_random_walks_shape_and_determinism(spark):
    g = graph_from_edges(spark, edges_from_tuples(
        spark, [(0, 1), (1, 2), (2, 0), (2, 3)]))
    w1 = sorted((r["walk_id"], r["step"], r["node_id"])
                for r in random_walks(g, walk_length=4, seed=5).collect())
    w2 = sorted((r["walk_id"], r["step"], r["node_id"])
                for r in random_walks(g, walk_length=4, seed=5).collect())
    assert w1 == w2
    by_walk = {}
    for wid, step, node in w1:
        by_walk.setdefault(wid, []).append((step, node))
    # walk continuity: consecutive steps follow edges
    edge_set = {(0, 1), (1, 2), (2, 0), (2, 3)}
    for wid, seq in by_walk.items():
        seq.sort()
        for (s1, n1), (s2, n2) in zip(seq, seq[1:]):
            assert s2 == s1 + 1 and (n1, n2) in edge_set
    # walks from node 3 (sink) stop immediately
    assert by_walk[3] == [(0, 3)]


def test_biased_walks_valid_and_deterministic(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1), (1, 0), (0, 2)]
    g = graph_from_edges(spark, edges_from_tuples(spark, edges))
    a = sorted((r["walk_id"], r["step"], r["node_id"])
               for r in random_walks(g, walk_length=5, seed=9,
                                     p=4.0, q=0.25).collect())
    b = sorted((r["walk_id"], r["step"], r["node_id"])
               for r in random_walks(g, walk_length=5, seed=9,
                                     p=4.0, q=0.25).collect())
    assert a == b
    by_walk = {}
    for wid, step, node in a:
        by_walk.setdefault(wid, []).append((step, node))
    for wid, seq in by_walk.items():
        seq.sort()
        for (s1, n1), (s2, n2) in zip(seq, seq[1:]):
            assert s2 == s1 + 1 and (n1, n2) in set(edges)


def test_biased_walks_return_factor_shifts_distribution(spark):
    # star-with-return: center 0 ↔ leaves 1..6; from a leaf the only move
    # is back to 0, from 0 the candidates are all leaves incl. the previous
    # one. With p huge (return discouraged) the walk revisits its previous
    # leaf less often than with p tiny (return forced).
    edges = [(0, i) for i in range(1, 7)] + [(i, 0) for i in range(1, 7)]
    g = graph_from_edges(spark, edges_from_tuples(spark, edges))

    def return_rate(p):
        rows = random_walks(g, walk_length=4, walks_per_node=8, seed=11,
                            p=p, q=1.0).collect()
        by_walk = {}
        for r in rows:
            by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["node_id"]
        rev = tot = 0
        for seq in by_walk.values():
            for s in range(2, 4):
                # only decisions made AT the center count — a walker at a
                # leaf has exactly one move (back to 0), which is a forced
                # return regardless of p
                if s in seq and s - 2 in seq and seq[s - 1] == 0:
                    tot += 1
                    rev += seq[s] == seq[s - 2]
        return rev / tot

    assert return_rate(0.01) > 0.9   # forced returns
    assert return_rate(100.0) < 0.5  # discouraged returns


def test_kmeans_separates_two_blobs(spark):
    rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(5)] + \
           [(10 + i, [10.0 + i * 0.01, 10.0]) for i in range(5)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    res = kmeans(vecs, k=2, max_iterations=4)
    got = rows_to_dict(res.assignment, "id", "cluster")
    assert len({got[i] for i in range(5)}) == 1
    assert len({got[10 + i] for i in range(5)}) == 1
    assert got[0] != got[10]


def test_k1coloring_is_proper(spark):
    # odd cycle (needs 3 colors) + chords
    edges = edges_from_tuples(
        spark, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (0, 2)])
    g = graph_from_edges(spark, edges)
    colors = rows_to_dict(k1coloring(g), "node_id", "color")
    for (a, b) in [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (0, 2)]:
        assert colors[a] != colors[b]
    assert max(colors.values()) <= 3  # greedy stays near chromatic number


def test_node2vec_deterministic_and_contextual(spark):
    from graph_data_science_spark.operators.embeddings import node2vec

    # two triangles bridged: nodes sharing walk contexts embed closer
    edges = edges_from_tuples(
        spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3),
                (1, 0), (2, 1), (0, 2), (4, 3), (5, 4), (3, 5)])
    g = graph_from_edges(spark, edges)
    a = {r["node_id"]: r["embedding"]
         for r in node2vec(g, embedding_dim=8, epochs=2, seed=4).collect()}
    b = {r["node_id"]: r["embedding"]
         for r in node2vec(g, embedding_dim=8, epochs=2, seed=4).collect()}
    assert a == b
    assert all(len(v) == 8 for v in a.values())


def test_steiner_tree_connects_targets(spark):
    from graph_data_science_spark.operators.spanning import steiner_tree

    # path 0-1-2 and branch 1-3; targets 2 and 3
    edges = edges_from_tuples(
        spark, [(0, 1, 1.0), (1, 2, 1.0), (1, 3, 1.0), (0, 3, 5.0)],
        weighted=True)
    g = graph_from_edges(spark, edges)
    tree = {(r["src"], r["dst"]): r["weight"]
            for r in steiner_tree(g, 0, [2, 3]).collect()}
    assert tree == {(0, 1): 1.0, (1, 2): 1.0, (1, 3): 1.0}


def test_node2vec_distributed_partition_invariant(spark):
    """The distributed SGNS's fixed summation tree: identical embeddings at
    ANY pair-partition count (2 vs 8) — the ml/mlp.py determinism contract,
    now holding for node2vec's default mode."""
    from graph_data_science_spark.operators.embeddings import node2vec

    edges = edges_from_tuples(
        spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3),
                (1, 0), (2, 1), (0, 2), (4, 3), (5, 4), (3, 5)])
    g = graph_from_edges(spark, edges)
    a = {r["node_id"]: r["embedding"]
         for r in node2vec(g, embedding_dim=8, epochs=2, seed=4,
                           num_partitions=2).collect()}
    b = {r["node_id"]: r["embedding"]
         for r in node2vec(g, embedding_dim=8, epochs=2, seed=4,
                           num_partitions=8).collect()}
    assert a == b


def test_node2vec_distributed_loss_descends(spark):
    from graph_data_science_spark.operators.embeddings import node2vec

    edges = edges_from_tuples(
        spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3),
                (1, 0), (2, 1), (0, 2), (4, 3), (5, 4), (3, 5)])
    g = graph_from_edges(spark, edges)
    out = node2vec(g, embedding_dim=8, epochs=5, learning_rate=0.2,
                   seed=4, num_partitions=4)
    hist = out.loss_history
    assert len(hist) == 5
    assert hist[-1] < hist[0]  # full-batch GD descends the fixed objective


def test_node2vec_distributed_no_nrow_driver_collect(spark, monkeypatch):
    """The executor-resident trainer's driver traffic per epoch is one
    loss scalar; the only multi-row collect anywhere is the 64-row bucket
    totals of the dense-rank prefix (plans/partitioning.py). Spy on
    collect: no batch may exceed the bucket count — in particular nothing
    n-sized (node ids, model, gradients) may cross the driver."""
    from pyspark.sql.classic.dataframe import DataFrame

    from graph_data_science_spark.operators.embeddings import node2vec

    sizes = []
    orig = DataFrame.collect

    def spy(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "collect", spy)
    edges = edges_from_tuples(
        spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3),
                (1, 0), (2, 1), (0, 2), (4, 3), (5, 4), (3, 5)])
    g = graph_from_edges(spark, edges)
    out = node2vec(g, embedding_dim=8, epochs=2, seed=4, num_partitions=4)
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert out.count() == 6
    assert sizes and max(sizes) <= 64
