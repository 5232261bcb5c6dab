"""Label propagation — GDS vote semantics, two execution modes.

Reference semantics (algo/src/main/java/org/neo4j/gds/labelpropagation/):
- init (InitStep.java:57-78): label = seed value when present, else
  ``maxLabelId + originalNodeId + 1`` — unseeded ⇒ label = node id (maxLabelId
  is -1 when no seeds exist).
- iteration (ComputeStep.java:61-90, ComputeStepConsumer.java:43-77): node v
  tallies the labels of its OUT-neighbors t, each vote weighted by
  ``relationshipWeight(v,t) × nodeWeight(t)``; v adopts the max-weight label,
  **ties broken by the smaller label id** (tallyVotes, L64-77). A node with
  no out-neighbors keeps its label. Converged when no node changed.
- defaults: maxIterations = 10 (LabelPropagationBaseConfig.java:40-44).
- update discipline: GDS sweeps contiguous node-id batches
  (LazyBatchCollection ranges) **in id order, updating the shared label array
  in place** — semi-asynchronous; batches run concurrently so results are
  batch-order dependent (NonStabilizingLabelPropagationTest documents this).

Execution modes here:

``mode="sync"`` (the scale path, default): strictly synchronous updates —
one shuffle join + two partial-aggregatable aggs per superstep, no Python in
the loop. Reproducible at any parallelism, but synchronous LPA can 2-cycle
on directed chains (the classic sync-LPA oscillation; GDS's own
NonStabilizingLabelPropagationTest shows the same for its strict-sync corner).

``mode="batch_sequential"`` (the GDS-parity path): node-id-range batches
(``batch_size``), each batch swept sequentially in id order inside an
``applyInPandas`` kernel reading fresh in-batch labels and stale
cross-batch labels — exactly GDS's ComputeStep with batch = partition.
With ``batch_size >= node_count`` this is bit-identical to GDS's
single-batch sweep and reproduces the doc-fixture goldens; with smaller
batches it is GDS-with-concurrency, deterministic for a fixed batch size.
The in-batch sweep is a per-node loop (Gauss-Seidel is inherently
sequential) — this mode is for parity/validation; the sync mode is the
10^12-edge path.

Divergence bounds between the modes (why the gate checks
``label_propagation_gds_order`` rows-only): sync and batch-sequential agree
on any graph where LPA has a unique stable fixpoint reachable without
oscillation (e.g. the layered link graph: both converge to per-hub
communities); they may differ on (a) 2-cycles/bipartite-ish structures
where strict-sync oscillates between two labelings while Gauss-Seidel
settles on one (GDS's NonStabilizingLabelPropagationTest documents the same
family), and (b) equal-weight ties encountered in a different interleaving
— bounded by the tie rule (max weight, then smaller label), so any
divergent assignment is still some valid LPA fixpoint, never an arbitrary
label. Batch-sequential results additionally depend on ``batch_size`` (=
GDS's concurrency-dependence), which is why no cross-engine value oracle is
possible for this mode — GDS itself does not promise one.

Spark plan per sync superstep: edges ⋈ labels on dst (the voting neighbor) →
``groupBy(src, label).sum(weight)`` (map-side partial agg = the combiner) →
``max(struct(weight, -label))`` per src — a second partial-aggregatable agg,
NO window sort.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.plans.partitioning import shuffle_hash
from graph_data_science_spark.plans.pregel import ACTIVE_COL, Pregel


@dataclass
class LabelPropagationResult:
    labels: DataFrame  # (node_id, label)
    ran_iterations: int
    converged: bool
    metrics: list[dict]


def _initial_state(graph: Graph, seed_property, node_weight_property):
    if seed_property is not None:
        if seed_property not in graph.nodes.columns:
            raise ValueError(f"missing seed column {seed_property!r}")
        max_label = graph.nodes.agg(F.max(seed_property)).first()[0]
        base = -1 if max_label is None else int(max_label)
        init_label = F.coalesce(
            F.col(seed_property).cast("long"), F.col("node_id") + F.lit(base + 1)
        )
    else:
        init_label = F.col("node_id")
    if node_weight_property is not None:
        if node_weight_property not in graph.nodes.columns:
            raise ValueError(f"missing node weight column {node_weight_property!r}")
        node_weight = F.col(node_weight_property).cast("double")
    else:
        node_weight = F.lit(1.0)
    return graph.nodes.select(
        "node_id",
        init_label.alias("label"),
        node_weight.alias("node_weight"),
        F.lit(1).cast("int").alias(ACTIVE_COL),
    )


def label_propagation(
    graph: Graph,
    max_iterations: int = 10,
    weighted: bool = False,
    seed_property: str | None = None,
    node_weight_property: str | None = None,
    mode: str = "sync",
    batch_size: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> LabelPropagationResult:
    """``gds.labelPropagation`` analog. Returns ``(node_id, label)``."""
    if weighted and not graph.has_weight():
        raise ValueError("weighted LPA requires edges.weight")
    if mode not in ("sync", "batch_sequential"):
        raise ValueError(f"unknown mode {mode!r}")
    edges = (
        graph.edges.select("src", "dst", "weight")
        if weighted
        else graph.edges.select("src", "dst", F.lit(1.0).alias("weight"))
    ).persist()
    try:
        state = _initial_state(graph, seed_property, node_weight_property)
        if mode == "sync":
            return _run_sync(graph, edges, state, max_iterations,
                             checkpoint_dir, resume)
        return _run_batch_sequential(graph, edges, state, max_iterations,
                                     batch_size, checkpoint_dir, resume)
    finally:
        edges.unpersist()


def _run_sync(graph, edges, state, max_iterations, checkpoint_dir, resume):
    spark = graph.nodes.sparkSession

    def step(st: DataFrame, superstep: int) -> DataFrame:
        # neighbor t votes its label to v along edge (v, t): join on dst
        voters = st.select(
            F.col("node_id").alias("_t"),
            F.col("label").alias("_vote"),
            F.col("node_weight").alias("_nw"),
        )
        votes = edges.join(shuffle_hash(voters), edges.dst == F.col("_t"), "inner").select(
            F.col("src").alias("_v"),
            F.col("_vote"),
            (F.col("weight") * F.col("_nw")).alias("_w"),
        )
        tallies = votes.groupBy("_v", "_vote").agg(F.sum("_w").alias("_tw"))
        winner = tallies.groupBy("_v").agg(
            F.max(F.struct(F.col("_tw"), (-F.col("_vote")).alias("_neg"),
                           F.col("_vote").alias("_lbl"))).alias("_best")
        ).select("_v", F.col("_best._lbl").alias("_new_label"))
        joined = st.join(shuffle_hash(winner), st.node_id == F.col("_v"), "left")
        new_label = F.coalesce(F.col("_new_label"), F.col("label"))
        return joined.select(
            st.node_id,
            new_label.alias("label"),
            st.node_weight,
            (new_label != F.col("label")).cast("int").alias(ACTIVE_COL),
        )

    driver = Pregel(
        spark,
        max_iterations=max_iterations,
        checkpoint_dir=checkpoint_dir,
        extra_metrics={"distinct_labels": F.approx_count_distinct("label")},
        manifest={"algorithm": "label_propagation", "mode": "sync"},
    )
    res = driver.run(state, step, resume=resume)
    return LabelPropagationResult(
        res.state.select("node_id", "label"),
        res.ran_iterations, res.converged, res.metrics,
    )


def _run_batch_sequential(graph, edges, state, max_iterations, batch_size,
                          checkpoint_dir, resume):
    spark = graph.nodes.sparkSession
    if batch_size is None:
        # GDS ParallelUtil.DEFAULT_BATCH_SIZE is 10_000; one batch per default
        # parallelism is the distributed analog
        batch_size = 10_000
    bs = int(batch_size)

    def step(st: DataFrame, superstep: int) -> DataFrame:
        # stale snapshot of every voter's (label, node_weight)
        voters = st.select(
            F.col("node_id").alias("_t"),
            F.col("label").alias("_vote"),
            F.col("node_weight").alias("_nw"),
        )
        votes = edges.join(voters, edges.dst == F.col("_t"), "inner").select(
            F.col("src").alias("_v"), F.col("dst").alias("_d"),
            F.col("_vote"), (F.col("weight") * F.col("_nw")).alias("_w"),
        )
        with_batch = st.select(
            "node_id", "label", "node_weight",
            (F.col("node_id") / bs).cast("long").alias("_batch"),
        )
        vote_batch = votes.withColumn("_batch", (F.col("_v") / bs).cast("long"))
        # one group per contiguous id-range batch, GDS LazyBatchCollection-style
        merged = with_batch.join(
            vote_batch, (with_batch.node_id == vote_batch._v)
            & (with_batch._batch == vote_batch._batch), "left"
        ).select(
            with_batch._batch.alias("_b"), "node_id", "label", "node_weight",
            "_d", "_vote", "_w",
        )

        def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
            nodes = (
                pdf[["node_id", "label", "node_weight"]]
                .drop_duplicates("node_id").sort_values("node_id")
                .reset_index(drop=True)
            )
            node_ids = nodes["node_id"].to_numpy("int64")
            local = dict(zip(node_ids, nodes["label"].to_numpy("int64")))
            ev = pdf[pdf["_d"].notna()]
            by_src = {int(k): g for k, g in ev.groupby("node_id")}
            changed = []
            for nid in node_ids:
                g = by_src.get(int(nid))
                if g is None:
                    changed.append(0)
                    continue
                # fresh in-batch labels override the stale join snapshot
                lbls = [
                    local.get(int(d), int(v))
                    for d, v in zip(g["_d"], g["_vote"])
                ]
                tally: dict[int, float] = {}
                for lbl, w in zip(lbls, g["_w"]):
                    tally[lbl] = tally.get(lbl, 0.0) + float(w)
                # max weight, ties → smaller label (tallyVotes)
                best = min(tally.items(), key=lambda kv: (-kv[1], kv[0]))[0]
                cur = local[int(nid)]
                if best != cur:
                    local[int(nid)] = best
                    changed.append(1)
                else:
                    changed.append(0)
            return pd.DataFrame({
                "node_id": node_ids,
                "label": [local[int(n)] for n in node_ids],
                "node_weight": nodes["node_weight"].to_numpy("float64"),
                ACTIVE_COL: pd.Series(changed, dtype="int32"),
            })

        return merged.groupBy("_b").applyInPandas(
            sweep, schema=f"node_id long, label long, node_weight double, {ACTIVE_COL} int"
        )

    driver = Pregel(spark, max_iterations=max_iterations, checkpoint_dir=checkpoint_dir,
                    manifest={"algorithm": "label_propagation",
                              "mode": "batch_sequential", "batch_size": bs})
    res = driver.run(state, step, resume=resume)
    return LabelPropagationResult(
        res.state.select("node_id", "label"),
        res.ran_iterations, res.converged, res.metrics,
    )
