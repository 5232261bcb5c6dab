"""Regression: chained in-memory checkpoints must not compound plan stats.

Since SPARK-34899 a (local)checkpoint's LogicalRDD carries the origin
plan's statistics forward, so an iterative loop's join-size estimates
compound exponentially across truncations — a nested loop (Borůvka outer
rounds × min-label inner rounds, operators/spanning.py) overflowed
BigInteger's 2^31-bit cap ("BigInteger would overflow supported range")
and spent planning time on multi-million-bit BigInt arithmetic well before
that. strip_origin_stats (plans/loop_state.py) re-wraps the checkpointed
RDD without the origin stats; these tests pin the invariant for every
in-memory truncation path (the Scratch memory path, and the Pregel driver,
which truncates through Scratch). The memory path is forced
by raising the size gate, loop_state.LARGE_STATE_ROWS.
"""

import pytest

from pyspark.sql import functions as F

from graph_data_science_spark.plans import loop_state
from graph_data_science_spark.plans.loop_state import Scratch, strip_origin_stats


@pytest.fixture
def memory_gate(monkeypatch):
    """Every known-size stream truncates in memory; returns the list the
    memory checkpoints are counted in."""
    monkeypatch.setattr(loop_state, "LARGE_STATE_ROWS", 10 ** 12)
    calls = []
    real = loop_state._checkpoint

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(loop_state, "_checkpoint", counting)
    return calls


def _stats_bits(df) -> int:
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()


def _self_join_step(df):
    a = df.select(F.col("node_id").alias("comp"), F.col("comp").alias("_pl"))
    return (
        df.join(a, "comp", "left")
        .select(
            "node_id",
            F.least("comp", F.coalesce("_pl", F.col("comp"))).alias("comp"),
        )
    )


def test_strip_origin_stats_resets_estimate(spark):
    df = spark.range(100).select(
        F.col("id").alias("node_id"), F.col("id").alias("comp"))
    ck = _self_join_step(df).localCheckpoint(eager=True)
    stripped = strip_origin_stats(ck)
    assert _stats_bits(stripped) <= 64
    # same data either way
    assert stripped.count() == 100
    assert stripped.schema == ck.schema


def test_scratch_memory_mode_keeps_stats_flat(spark, memory_gate):
    scratch = Scratch(spark)
    try:
        df = spark.range(150).select(
            F.col("id").alias("node_id"), F.col("id").alias("comp"))
        state = scratch.truncate(df, "comp")  # unknown size: parquet
        for _ in range(40):
            state = scratch.truncate(_self_join_step(state), "comp")
            assert _stats_bits(state) <= 64
        assert state.count() == 150
        assert len(memory_gate) == 40
    finally:
        scratch.cleanup()


def test_pregel_memory_mode_keeps_stats_flat(spark, memory_gate):
    from graph_data_science_spark.plans.pregel import Pregel

    df = spark.range(120).select(
        F.col("id").alias("node_id"), F.col("id").alias("comp"),
        F.lit(1).alias("_active"))

    def step(state, i):
        a = state.select(
            F.col("node_id").alias("comp"), F.col("comp").alias("_pl"))
        return (
            state.drop("_active")
            .join(a, "comp", "left")
            .select(
                "node_id",
                F.least("comp", F.coalesce("_pl", F.col("comp"))).alias("comp"),
                F.lit(1).alias("_active") if i < 29 else F.lit(0).alias("_active"),
            )
        )

    res = Pregel(spark, max_iterations=30, fuse=1).run(df, step)
    assert res.state.count() == 120
    assert _stats_bits(res.state) <= 64
    # step 0 went to parquet; every block after it checkpointed in memory
    assert len(memory_gate) == len(res.metrics) == 30
