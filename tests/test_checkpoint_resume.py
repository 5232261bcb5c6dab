"""F6: checkpoint/resume + lineage metrics (north-rule additions).

Resume from a mid-run snapshot must equal the uninterrupted run bit-for-bit;
the metrics jsonl doubles as the per-partition lineage record.
"""

import json
import os

import pytest

from graph_data_science_spark.graph import Graph, edges_from_tuples
from graph_data_science_spark.operators.pagerank import pagerank
from graph_data_science_spark.operators.wcc import wcc
from tests.fixtures import F1_EDGES, F1_NODES


@pytest.fixture()
def f1_graph(spark):
    e = edges_from_tuples(spark, F1_EDGES)
    n = spark.createDataFrame([(i,) for i in F1_NODES], "node_id long")
    return Graph(nodes=n, edges=e)


def _scores(res):
    return {r["node_id"]: r["score"] for r in res.scores.collect()}


def test_pagerank_resume_equals_uninterrupted(f1_graph, tmp_path):
    full = _scores(pagerank(f1_graph, tolerance=0.0, max_iterations=15))

    ckpt = str(tmp_path / "pr")
    # "killed" run: only 5 supersteps executed, snapshots on disk
    partial = pagerank(f1_graph, tolerance=0.0, max_iterations=5, checkpoint_dir=ckpt)
    assert not partial.converged
    # resume from the latest snapshot and continue to the same cap
    resumed = pagerank(f1_graph, tolerance=0.0, max_iterations=15,
                       checkpoint_dir=ckpt, resume=True)
    got = _scores(resumed)
    assert got == full  # bit-for-bit: same floats
    # resumed run executed only the remaining supersteps
    assert resumed.ran_iterations < 15


def test_mismatched_resume_raises_and_leaves_no_cached_frame(
        spark, f1_graph, tmp_path):
    """A resume into snapshots written with another damping factor (PageRank)
    or threshold (WCC) raises the manifest error and still releases the
    persisted edge frame."""
    ckpt = str(tmp_path / "pr")
    pagerank(f1_graph, tolerance=0.0, max_iterations=3, checkpoint_dir=ckpt)
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="manifest"):
        pagerank(f1_graph, damping_factor=0.5, tolerance=0.0,
                 max_iterations=5, checkpoint_dir=ckpt, resume=True)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    weighted = Graph(nodes=f1_graph.nodes, edges=edges_from_tuples(
        spark, [(a, b, 1.0) for a, b in F1_EDGES], weighted=True))
    ckpt = str(tmp_path / "wcc")
    wcc(weighted, max_iterations=3, checkpoint_dir=ckpt)
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="manifest"):
        wcc(weighted, threshold=0.5, checkpoint_dir=ckpt, resume=True)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_metrics_lineage_records(f1_graph, tmp_path):
    ckpt = str(tmp_path / "m")
    res = pagerank(f1_graph, tolerance=0.0, max_iterations=4, checkpoint_dir=ckpt)
    path = os.path.join(ckpt, "metrics.jsonl")
    assert os.path.exists(path)
    recs = [json.loads(l) for l in open(path)]
    assert len(recs) == 3  # maxIterations-1 message exchanges
    for r in recs:
        assert {"superstep", "wall_ms", "active", "rows", "num_partitions",
                "partition_rows", "delta_max", "rank_sum"} <= set(r)
        assert sum(r["partition_rows"].values()) == r["rows"] == 11
    # convergence trace is monotone-ish: delta_max decreases overall
    assert recs[-1]["delta_max"] < recs[0]["delta_max"]


def test_wcc_resume(spark, tmp_path):
    # long chain forces many supersteps
    chain = [(i, i + 1) for i in range(30)]
    e = edges_from_tuples(spark, chain)
    n = spark.createDataFrame([(i,) for i in range(31)], "node_id long")
    g = Graph(nodes=n, edges=e)
    full = {r["node_id"]: r["component"] for r in wcc(g).components.collect()}

    ckpt = str(tmp_path / "wcc")
    wcc(g, max_iterations=4, checkpoint_dir=ckpt)
    resumed = wcc(g, checkpoint_dir=ckpt, resume=True)
    got = {r["node_id"]: r["component"] for r in resumed.components.collect()}
    assert got == full
    assert all(v == 0 for v in got.values())
