"""The ad-hoc loops that truncate through ``Scratch`` (plans/loop_state.py):
k-core peeling, the two samplers, forest level descent and BPE rounds.

Each round's state size rides its truncate (an ``Observation`` on the
materializing job), so no loop pays an extra ``count()`` job per round; and
each loop's scratch directory goes with the call, also when it raises (the
raising case is in tests/test_paths_kcore.py).
"""

import pytest

from graph_data_science_spark.graph import edges_from_tuples, graph_from_edges
from graph_data_science_spark.operators.kcore import k_core
from graph_data_science_spark.operators.walking import sample_cnarw, sample_rwr
from tests.conftest import scratch_dirs


@pytest.mark.parametrize("run", [
    lambda g: k_core(g, k=3),
    lambda g: sample_rwr(g, [0], rounds=6, accept_prob=0.7),
    lambda g: sample_cnarw(g, [0], rounds=6, seed=3),
], ids=["k_core", "sample_rwr", "sample_cnarw"])
def test_loop_runs_no_count_job_and_leaves_no_scratch(spark, count_calls, run):
    # 4-clique {0,1,2,3} + tail 3-4-5
    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    g = graph_from_edges(
        spark, edges_from_tuples(spark, clique + [(3, 4), (4, 5)]))
    g.node_count()  # k-core's size hint: a count the graph already holds
    count_calls.clear()
    before = scratch_dirs()
    out = run(g)
    assert count_calls == []
    assert scratch_dirs() <= before
    assert 0 in {r["node_id"] for r in out.collect()}


def test_forest_and_bpe_leave_no_scratch(spark):
    from graph_data_science_spark.ml.forest import random_forest_fit
    from graph_data_science_spark.operators.tokenizer import bpe_train

    examples = spark.createDataFrame(
        [(i, [float(i % 4), float(i // 4)], int(i % 4 > 1)) for i in range(16)],
        "id long, x array<double>, y int")
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the hat and the bat")],
        ["doc_id", "text"])
    before = scratch_dirs()
    model = random_forest_fit(examples, n_trees=2, max_depth=2, seed=1)
    assert model.splits
    assert len(bpe_train(docs, n_merges=3)) == 3
    assert scratch_dirs() <= before
