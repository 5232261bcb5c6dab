"""Incremental link-graph ingestion: streamed edge deltas must merge to
exactly the batch projection."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.sources.edge_extraction import build_link_graph
from graph_data_science_spark.sources.repo_source import synthesize_repo_table
from graph_data_science_spark.streaming.ingest import (
    merge_deltas,
    run_incremental_ingest,
)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="gds_ingest_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _repo_fixture(spark, n_files=48):
    planted = [(i, (i * 7 + 3) % n_files) for i in range(n_files)] + \
              [(i, (i * 13 + 5) % n_files) for i in range(0, n_files, 2)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in planted if a != b], "src long, dst long")
    return synthesize_repo_table(spark, edges, n_files).drop("content_sha256")


def test_streamed_deltas_merge_to_batch_projection(spark, workdir):
    repos = _repo_fixture(spark).persist()
    id_map, nodes, batch_edges = build_link_graph(repos)
    id_map = id_map.persist()

    # drop zone: the SAME rows arriving as several micro-batch files
    drop = os.path.join(workdir, "drop")
    repos.repartition(5).write.mode("overwrite").parquet(drop)
    deltas_dir, pending_dir = run_incremental_ingest(
        spark, drop, os.path.join(workdir, "out"), repos, id_map,
        max_files_per_trigger=2)  # force multiple micro-batches

    merged = {(r["src"], r["dst"]): r["weight"]
              for r in merge_deltas(spark, deltas_dir).collect()}
    want = {(r["src"], r["dst"]): r["weight"] for r in batch_edges.collect()}
    assert merged == want
    # every reference resolved against the full-projection indexes
    assert not os.path.exists(pending_dir) or \
        spark.read.parquet(pending_dir).isEmpty()
    repos.unpersist()
    id_map.unpersist()


def test_unresolved_references_routed_to_pending(spark, workdir):
    repos = _repo_fixture(spark, n_files=32).persist()
    id_map, _, _ = build_link_graph(repos)
    # cripple the id map: forget the last quarter of the files — their
    # references must land in pending/, never silently vanish
    known = id_map.where(F.col("node_id") < 24).persist()

    drop = os.path.join(workdir, "drop")
    repos.write.mode("overwrite").parquet(drop)
    deltas_dir, pending_dir = run_incremental_ingest(
        spark, drop, os.path.join(workdir, "out"), repos, known)

    n_deltas = spark.read.parquet(deltas_dir).count()
    pending = spark.read.parquet(pending_dir)
    assert pending.count() > 0
    assert n_deltas > 0
    # deltas + pending cover every resolved reference pair exactly once
    full_map, _, batch_edges = build_link_graph(repos)
    total_refs = batch_edges.agg(F.sum("weight")).first()[0]
    delta_refs = spark.read.parquet(deltas_dir).agg(F.sum("weight")).first()[0]
    assert delta_refs < total_refs  # the forgotten files' refs are not there
    repos.unpersist()
    known.unpersist()


# ---- streaming pagerank maintenance -----------------------------------------

def test_streaming_pagerank_matches_batch_recompute(spark, workdir):
    from graph_data_science_spark.graph import Graph
    from graph_data_science_spark.operators.pagerank import pagerank
    from graph_data_science_spark.streaming.ingest import run_streaming_pagerank

    drop = os.path.join(workdir, "pr_drop")
    state = os.path.join(workdir, "pr_state")
    e1 = [(0, 1), (1, 2), (2, 0), (2, 3)]
    e2 = [(3, 4), (4, 0), (1, 3)]

    def _graph(edges):
        e = spark.createDataFrame(edges, "src long, dst long")
        n = (e.select(F.col("src").alias("node_id"))
             .unionByName(e.select(F.col("dst").alias("node_id"))).distinct())
        return Graph(nodes=n, edges=e)

    kw = dict(damping_factor=0.5, tolerance=1e-9, max_iterations=60)

    spark.createDataFrame(e1, "src long, dst long").write.mode(
        "append").parquet(drop)
    s1 = {r["node_id"]: r["score"]
          for r in run_streaming_pagerank(spark, drop, state, **kw).collect()}
    ref1 = {r["node_id"]: r["score"]
            for r in pagerank(_graph(e1), **kw).scores.collect()}
    assert set(s1) == set(ref1)
    assert all(abs(s1[k] - ref1[k]) < 1e-6 for k in ref1)

    # second drain: new files land; the maintainer resumes from the marker
    # and warm-starts from batch 1's converged scores
    spark.createDataFrame(e2, "src long, dst long").write.mode(
        "append").parquet(drop)
    s2 = {r["node_id"]: r["score"]
          for r in run_streaming_pagerank(spark, drop, state, **kw).collect()}
    ref2 = {r["node_id"]: r["score"]
            for r in pagerank(_graph(e1 + e2), **kw).scores.collect()}
    assert set(s2) == set(ref2)
    assert all(abs(s2[k] - ref2[k]) < 1e-6 for k in ref2)


def test_streaming_pagerank_unconverged_batch_raises(spark, workdir):
    """A batch capped before convergence raises instead of publishing
    capped scores, and the slot marker does not advance."""
    from pyspark.errors import StreamingQueryException

    from graph_data_science_spark.streaming.ingest import run_streaming_pagerank

    drop = os.path.join(workdir, "pr_drop")
    state = os.path.join(workdir, "pr_state")
    spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)],
                          "src long, dst long").write.parquet(drop)
    with pytest.raises((ValueError, StreamingQueryException),
                       match="did not converge"):
        run_streaming_pagerank(spark, drop, state, max_iterations=2,
                               tolerance=1e-12)
    assert not os.path.exists(os.path.join(state, "_latest"))


# -- incremental triangle count ------------------------------------------------

def _tri_graph(spark, edges):
    from graph_data_science_spark.graph import Graph
    e = spark.createDataFrame(edges, "src long, dst long")
    n = (e.select(F.col("src").alias("node_id"))
         .unionByName(e.select(F.col("dst").alias("node_id"))).distinct())
    return Graph(nodes=n, edges=e)


def test_triangle_delta_counts_each_new_triangle_once(spark):
    from graph_data_science_spark.graph import canonical_edges
    from graph_data_science_spark.operators.triangle import triangle_count_delta

    old = canonical_edges(
        spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    ).localCheckpoint(eager=True)
    # one new edge closes the old wedge → exactly 1
    assert triangle_count_delta(
        old, spark.createDataFrame([(2, 0)], "src long, dst long")) == 1
    # a batch that is an ENTIRE new triangle (3 new edges) → exactly 1
    assert triangle_count_delta(
        old, spark.createDataFrame([(5, 6), (6, 7), (7, 5)],
                                   "src long, dst long")) == 1
    # two new edges + one old edge (0,1): triangle (0,1,9) → exactly 1
    assert triangle_count_delta(
        old, spark.createDataFrame([(0, 9), (9, 1)],
                                   "src long, dst long")) == 1
    # duplicates of old edges, reversals and self-loops add nothing
    assert triangle_count_delta(
        old, spark.createDataFrame([(1, 0), (2, 1), (3, 3)],
                                   "src long, dst long")) == 0


def test_streaming_triangle_count_matches_batch_recompute(spark, workdir):
    from graph_data_science_spark.operators.triangle import triangle_count
    from graph_data_science_spark.streaming.ingest import (
        run_streaming_triangle_count)

    drop = os.path.join(workdir, "tc_drop")
    state = os.path.join(workdir, "tc_state")
    # K4 on {0..3} (4 triangles) built across batches, plus a hub fan
    e1 = [(0, 1), (1, 2), (2, 3)]
    e2 = [(0, 2), (1, 3), (1, 0)]        # (1,0) duplicates edge (0,1)
    e3 = [(0, 3), (4, 0), (4, 1), (4, 2), (4, 3)]

    spark.createDataFrame(e1, "src long, dst long").write.mode(
        "append").parquet(drop)
    t1 = run_streaming_triangle_count(spark, drop, state)
    assert t1 == triangle_count(_tri_graph(spark, e1)).global_count == 0

    spark.createDataFrame(e2, "src long, dst long").write.mode(
        "append").parquet(drop)
    t2 = run_streaming_triangle_count(spark, drop, state)
    assert t2 == triangle_count(_tri_graph(spark, e1 + e2)).global_count == 2

    spark.createDataFrame(e3, "src long, dst long").write.mode(
        "append").parquet(drop)
    t3 = run_streaming_triangle_count(spark, drop, state)
    assert t3 == triangle_count(
        _tri_graph(spark, e1 + e2 + e3)).global_count == 10


def test_graph_maintainers_on_empty_drop_zone(spark, workdir):
    """No file has landed yet: every graph maintainer returns its empty
    result instead of failing on the missing state marker."""
    from graph_data_science_spark.streaming.ingest import (
        run_streaming_pagerank, run_streaming_triangle_count,
        run_streaming_wcc)

    drop = os.path.join(workdir, "empty_drop")
    os.makedirs(drop)
    scores = run_streaming_pagerank(spark, drop,
                                    os.path.join(workdir, "pr_state"))
    labels = run_streaming_wcc(spark, drop, os.path.join(workdir, "wcc_state"))
    assert scores.count() == 0 and labels.count() == 0
    assert [(f.name, f.dataType.simpleString())
            for f in scores.schema.fields] == [("node_id", "bigint"),
                                               ("score", "double")]
    assert [(f.name, f.dataType.simpleString())
            for f in labels.schema.fields] == [("node_id", "bigint"),
                                               ("component", "bigint")]
    assert run_streaming_triangle_count(
        spark, drop, os.path.join(workdir, "tc_state")) == 0
