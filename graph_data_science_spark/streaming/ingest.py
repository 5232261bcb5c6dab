"""Incremental link-graph ingestion: Structured Streaming over the
source-repository table → edge-delta stream.

The batch projection (sources/edge_extraction.build_link_graph — the
``gds.graph.project`` analog) re-reads the whole repo table; at 10^12 files
the realistic operating mode is INCREMENTAL: new/changed files land in a
drop zone (cloud storage / an Iceberg append snapshot) and only their
references are parsed and merged into the edge table. The reference has no
streaming story (its nearest analog is re-projection); this is the
Spark-native capability a live corpus needs.

Design (all append-safe — no streaming aggregation state):

- one projection, two execution modes: ``readStream`` micro-batches flow
  through the SAME vectorized ``mapInPandas`` parser
  (``extract_references``) and the SAME ``resolve_references`` join as
  the batch path (Structured Streaming supports mapInPandas natively).
- resolution is a STREAM-STATIC inner join against the definitions table
  built from the last full projection (stream-static joins need no
  watermark). At 100 TB both sides are broadcast-or-bucket joins against
  slowly-changing indexes.
- per micro-batch, ``foreachBatch`` maps the batch's references onto the
  static dense id map and aggregates them into ``(src, dst, weight)``
  DELTAS with the batch projection's own ``weighted_edges``, appended to
  the delta directory. Weights are reference COUNTS, which compose over
  batches by summation — ``merged = deltas.groupBy(src, dst).sum(weight)``
  equals the batch projection exactly (verified by test). References to
  keys missing from the static id map (files never seen by a full
  projection) are appended to a ``pending/`` side channel instead of
  silently dropped; a periodic full projection drains it.

Graph maintainers over an edge drop zone keep PageRank scores, WCC labels
(``_run_slot_maintainer``: alternating parquet slots + a ``_latest``
marker, replay-guarded) and the global triangle count fresh per batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_data_science_spark.sources.edge_extraction import (
    definitions_table,
    extract_references,
    resolve_references,
    weighted_edges,
)


def run_incremental_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    repos_static: DataFrame,
    id_map: DataFrame,
    schema: str = "repo string, path string, commit string, lang string, "
                  "content string",
    max_files_per_trigger: int | None = None,
):
    """Drain ``input_dir`` (parquet drop zone of repo-table rows) into
    ``out_dir/deltas`` (src, dst, weight) + ``out_dir/pending`` (unresolved
    src_key/dst_key pairs), using an ``availableNow`` trigger — the batch
    twin of a continuously-running ingest. Returns after the drain.

    ``repos_static``/``id_map``: the definitions + dense-id indexes from
    the last full projection (static join sides)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    resolved = resolve_references(extract_references(reader.parquet(input_dir)),
                                  definitions_table(repos_static))

    src_ids = id_map.select(F.col("orig_key").alias("src_key"),
                            F.col("node_id").alias("src"))
    dst_ids = id_map.select(F.col("orig_key").alias("dst_key"),
                            F.col("node_id").alias("dst"))
    deltas_dir = os.path.join(out_dir, "deltas")
    pending_dir = os.path.join(out_dir, "pending")

    def sink(batch: DataFrame, batch_id: int) -> None:
        b = batch.persist()
        try:
            weighted_edges(b, id_map).write.mode("append").parquet(deltas_dir)
            unresolved = (b.join(src_ids, "src_key", "left_anti")
                          .unionByName(b.join(dst_ids, "dst_key", "left_anti"))
                          .dropDuplicates(["src_key", "dst_key"]))
            if not unresolved.isEmpty():
                unresolved.write.mode("append").parquet(pending_dir)
        finally:
            b.unpersist()

    q = (resolved.writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return deltas_dir, pending_dir


def merge_deltas(spark: SparkSession, deltas_dir: str) -> DataFrame:
    """Fold the appended deltas into the current edge table:
    reference-count weights compose by summation."""
    return (spark.read.parquet(deltas_dir)
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight")))


def run_streaming_pagerank(
    spark: SparkSession,
    edge_delta_dir: str,
    state_dir: str,
    damping_factor: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 50,
    schema: str = "src long, dst long",
) -> DataFrame:
    """Maintain PageRank scores over a continuously-growing link graph:
    ``readStream`` over an edge drop zone → per micro-batch, append the
    batch to the accumulated edge table and WARM-START
    :func:`~graph_data_science_spark.operators.pagerank.pagerank_incremental`
    from the previous batch's converged scores. Only on tiny graphs does
    the push frontier follow the batch: on the 10k-file benchmark graph a
    batch starts ~all nodes active at tol 1e-7 (``pagerank_incremental``
    docstring).

    Duplicate (src, dst) arrivals collapse to one link (the unweighted
    projection's set semantics). Scores persist under
    ``state_dir/scores-{0,1}`` with a ``_latest`` marker
    (``_run_slot_maintainer``), so a later drain resumes from the last
    converged state like the Pregel checkpoint story. Returns the final
    ``(node_id, score)`` DataFrame — empty for an empty drop zone. A batch
    that stops at ``max_iterations`` unconverged raises ``ValueError``
    (wrapped by Spark's streaming query error) and leaves the marker on
    the previous batch.

    Batch-equivalence invariant (tested): after draining N batches the
    scores match a from-scratch :func:`pagerank` on the union of all
    batches to within the push tolerance."""
    from graph_data_science_spark.graph import graph_from_edges
    from graph_data_science_spark.operators.pagerank import (
        pagerank_incremental)

    edges_dir = os.path.join(state_dir, "edges")

    def update(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        # append-then-dedup is idempotent, so a replayed append is harmless
        batch.write.mode("append").parquet(edges_dir)
        edges = spark.read.parquet(edges_dir).dropDuplicates(["src", "dst"])
        if prev is None:
            prev = spark.createDataFrame([], "node_id long, score double")
        res = pagerank_incremental(
            graph_from_edges(spark, edges), prev,
            damping_factor=damping_factor, tolerance=tolerance,
            max_iterations=max_iterations)
        if not res.converged:
            # raised before the slot write: the marker stays on the last
            # converged batch
            raise ValueError(
                f"run_streaming_pagerank: batch did not converge in "
                f"{max_iterations} iterations at tolerance {tolerance}")
        return res.scores

    return _run_slot_maintainer(spark, edge_delta_dir, state_dir, update,
                                "scores", schema)


def run_streaming_wcc(
    spark: SparkSession,
    edge_delta_dir: str,
    state_dir: str,
    threshold: float | None = None,
    schema: str = "src long, dst long",
) -> DataFrame:
    """Maintain WCC labels over a continuously-growing link graph:
    ``readStream`` over an edge drop zone → per micro-batch,
    :func:`~graph_data_science_spark.operators.wcc.wcc_incremental` merges
    the batch into the previous labels via its contracted-component graph.

    Unlike :func:`run_streaming_pagerank` this maintainer never accumulates
    or re-reads the edge table at all — components only ever merge, so the
    converged ``(node_id, component)`` labels are a SUFFICIENT summary of
    every edge seen so far. Per batch it reads the label table once and the
    batch once; state lives under ``state_dir/labels-{0,1}``
    (``_run_slot_maintainer``, the same resume contract as the pagerank
    maintainer). Returns the final ``(node_id, component)`` DataFrame —
    empty for an empty drop zone.

    Batch-equivalence invariant (tested): after draining N batches the
    labels equal a from-scratch :func:`wcc` on the union of all batches,
    under ANY split of the edges into batches.
    """
    from graph_data_science_spark.operators.wcc import wcc_incremental

    def update(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        if prev is None:
            prev = spark.createDataFrame([], "node_id long, component long")
        return wcc_incremental(prev, batch, threshold=threshold).components

    return _run_slot_maintainer(spark, edge_delta_dir, state_dir, update,
                                "labels", schema)


def run_streaming_triangle_count(
    spark: SparkSession,
    edge_delta_dir: str,
    state_dir: str,
    schema: str = "src long, dst long",
) -> int:
    """Maintain the global triangle count over a continuously-growing link
    graph: ``readStream`` over an edge drop zone → per micro-batch,
    :func:`~graph_data_science_spark.operators.triangle.triangle_count_delta`
    counts only the triangles the batch CLOSES (cost = the batch's blast
    radius, Σ deg over batch endpoints), then the canonicalized new edges
    append to the accumulated simple-edge table.

    State: ``state_dir/edges`` (canonical src<dst parquet, append-only —
    dedup is enforced by the per-batch anti-join before append) plus a
    ``_latest`` JSON marker carrying the running total and per-batch
    deltas. Returns the final global triangle count — 0 for an empty drop
    zone.

    Batch-equivalence invariant (tested): after draining N batches the
    total equals a from-scratch :func:`triangle_count` on the union of all
    batches, under ANY split of the edges into batches."""
    from graph_data_science_spark.graph import canonical_edges
    from graph_data_science_spark.operators.triangle import (
        triangle_count_delta)

    edges_dir = os.path.join(state_dir, "edges")
    marker = os.path.join(state_dir, "_latest")

    def sink(batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(marker):
            with open(marker) as fh:
                st = json.load(fh)
            old = spark.read.parquet(edges_dir)
        else:
            st = {"triangles": 0, "deltas": []}
            old = spark.createDataFrame([], "src long, dst long")
        delta = triangle_count_delta(old, batch)
        new_e = canonical_edges(batch).join(old, ["src", "dst"], "left_anti")
        new_e.write.mode("append").parquet(edges_dir)
        st["triangles"] += delta
        st["deltas"].append({"batch_id": int(batch_id), "delta": int(delta)})
        with open(marker, "w") as fh:
            json.dump(st, fh)

    q = (spark.readStream.schema(schema).parquet(edge_delta_dir)
         .writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    if not os.path.exists(marker):
        return 0
    with open(marker) as fh:
        return int(json.load(fh)["triangles"])


def _run_slot_maintainer(
    spark: SparkSession,
    delta_dir: str,
    state_dir: str,
    update,
    slot_prefix: str,
    schema: str,
) -> DataFrame:
    """Shared drop-zone maintainer: ``readStream`` → per micro-batch,
    ``update(prev, batch)`` (``prev`` is the last slot's summary, or None
    before the first batch) written to alternating parquet slots
    ``state_dir/{slot_prefix}-{0,1}`` + a ``_latest`` marker carrying
    ``slot`` and ``batch_id``. Reading the previous slot while writing the
    next is safe because the slots never alias.

    Replay-safe for NON-idempotent merges: ``foreachBatch`` is
    at-least-once (a crash between the slot write and the stream
    checkpoint's offset commit redelivers the batch), so the sink skips
    any ``batch_id`` at or below the marker's — without this guard a
    sum-merge would double-count the replayed batch's contribution
    (a max-merge like HLL's survives replay by accident; the guard makes
    both exact by construction). Batch ids are monotonic per stream
    checkpoint, which lives beside the slots in ``state_dir``.

    An empty drop zone (zero micro-batches, no marker) returns
    ``update(None, <empty batch>)`` — the correctly-typed empty summary —
    instead of crashing on the missing marker."""
    marker = os.path.join(state_dir, "_latest")

    def _slot(i: int) -> str:
        return os.path.join(state_dir, f"{slot_prefix}-{i % 2}")

    def sink(batch: DataFrame, batch_id: int) -> None:
        prev, next_slot = None, 0
        if os.path.exists(marker):
            with open(marker) as fh:
                st = json.load(fh)
            if int(batch_id) <= int(st["batch_id"]):
                return  # at-least-once replay of an already-merged batch
            prev = spark.read.parquet(_slot(st["slot"]))
            next_slot = st["slot"] + 1
        update(prev, batch).write.mode("overwrite").parquet(_slot(next_slot))
        with open(marker, "w") as fh:
            json.dump({"slot": next_slot, "batch_id": int(batch_id)}, fh)

    q = (spark.readStream.schema(schema).parquet(delta_dir)
         .writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    if not os.path.exists(marker):
        return update(None, spark.createDataFrame([], schema))
    with open(marker) as fh:
        slot = json.load(fh)["slot"]
    return spark.read.parquet(_slot(slot))


def run_streaming_hll(
    spark: SparkSession,
    doc_delta_dir: str,
    state_dir: str,
    group_col: str = "lang",
    value_col: str = "text",
    p: int = 9,
    seed: int = 42,
    schema: str = "doc_id long, text string, lang string",
) -> DataFrame:
    """Maintain per-group approx-distinct registers over a continuously
    growing corpus: ``readStream`` over a document drop zone → per
    micro-batch, sketch the batch and max-merge it into the persisted
    register store (operators/sketches.py module doc — the merge IS the
    associative HLL union, so the store is a sufficient summary of every
    value ever seen; batch-equivalence is exact, not approximate-on-top-
    of-approximate).

    State = ``state_dir/regs-{0,1}`` alternating parquet slots + a
    ``_latest`` marker (``_run_slot_maintainer``); the store is at most
    groups·2^p rows regardless of corpus size. Returns the final
    (group, reg, rho) registers — feed to
    :func:`~...sketches.hll_estimate` for counts.
    """
    from graph_data_science_spark.operators.sketches import (
        hll_merge, hll_registers)

    def update(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        regs = hll_registers(batch, group_col, value_col, p, seed)
        return regs if prev is None else hll_merge(prev, regs)

    return _run_slot_maintainer(spark, doc_delta_dir, state_dir, update,
                                "regs", schema)


def run_streaming_lm_counts(
    spark: SparkSession,
    doc_delta_dir: str,
    state_dir: str,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    schema: str = "doc_id long, text string, lang string",
) -> DataFrame:
    """Maintain the Stupid-Backoff LM count table over a continuously
    growing reference corpus: ``readStream`` over a document drop zone →
    per micro-batch, count the batch's n-grams and integer-sum-merge them
    into the persisted model store (operators/lm.py — Stupid Backoff
    needs no renormalization, so the merge IS exact model training:
    ``merge(counts(A), counts(B)) == counts(A ∪ B)`` bit-for-bit, the
    pytest-pinned ngram_lm_merge property).

    Same state contract as the HLL maintainer (``_run_slot_maintainer``,
    including the at-least-once replay guard — CRITICAL here because the
    integer-sum merge is NOT idempotent, unlike HLL's max-merge: a
    replayed batch would double-count its n-grams). The store stays
    vocabulary-sized (Heaps' law) regardless of corpus size. Returns the
    final (k, ctx, word, cnt) table — pass it to
    :func:`~...lm.ngram_lm_score` as ``counts``.
    """
    from graph_data_science_spark.operators.lm import (
        ngram_lm_counts, ngram_lm_merge)

    def update(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        counts = ngram_lm_counts(batch, n=n, text_col=text_col, id_col=id_col)
        return counts if prev is None else ngram_lm_merge(prev, counts)

    return _run_slot_maintainer(spark, doc_delta_dir, state_dir, update,
                                "counts", schema)
