"""PageRank / ArticleRank / Eigenvector — delta-push power iteration.

Reference semantics (algo/src/main/java/org/neo4j/gds/pagerank/
PageRankComputation.java:59-108), reproduced EXACTLY:

- init: ``rank = delta = 1 - dampingFactor`` (alpha) for all nodes — or only
  ``sourceNodes`` when personalized, others 0 (L65-74).
- superstep: ``new_delta = dampingFactor * sum(incoming messages)``;
  ``rank += new_delta`` (L81-88).
- a node sends ``delta / degree`` to out-neighbors iff ``delta > tolerance``
  or it is the initial superstep (L90-94). A node with out-degree 0 sends
  nothing — **dangling mass is NOT redistributed** and scores are NOT
  normalized (sink-only nodes converge to exactly ``1-d`` = 0.15).
- weighted: message × edge weight; the sending degree is the weighted degree
  summing only weights > 0 (algo/.../degree/DegreeCentrality.java:315-319;
  negative/zero weights ignored).
- messages merged by sum — the ReducingMessenger combiner
  (pregel/.../ReducingMessenger.java:42-100) = Spark's partial-aggregated
  ``groupBy(dst).sum`` (map-side combine is the combiner).
- converged when no node sends (all deltas ≤ tolerance) — vote-to-halt.

Config defaults mirror PageRankConfig.java:41-66: dampingFactor 0.85,
tolerance 1e-7, maxIterations 20, optional sourceNodes / weights / scaler.

Two plans, chosen by the engine's size policy (``Graph.tier``):

- ``"local"`` (node and edge counts both below ``LARGE_STATE_ROWS``):
  the prepared initial state and the edges
  cross to the driver once through Arrow, node ids map to positions
  with ``argsort``/``searchsorted``, and each superstep is one sparse
  matrix-vector product (``np.bincount`` over the active senders' edges).
  The result returns through one ``createDataFrame`` plus one
  ``localCheckpoint``. On a seeded 10k-node, 75k-edge graph at
  ``local[4]`` on a 4-core VM, 20 iterations take about 1 s in 10 Spark
  jobs here and 10–11 s in 100 jobs on the join plan, whose cost is the
  fixed per-superstep job cost (docs/SCALE_NOTES.md §35).
- otherwise, and for every ``checkpoint_dir``/``resume`` or ``skew_salt``
  run, the Spark plan per superstep: one shuffle join (edges ⋈ active
  senders on src — AQE skew-join splits hub sources) + one
  partial-aggregated shuffle sum on dst (optionally salted two-level via
  ``skew_salt``) + one join back onto state. State is persisted per
  superstep and lineage is broken periodically by the Pregel driver.

Both run the same recurrence and fill the same ``metrics`` records
(``"tier"`` names the plan); only the summation order of a node's
incoming messages differs.

One kernel: ``_delta_push`` runs that recurrence, in either plan, from a
prepared initial state. :func:`pagerank` and :func:`article_rank` seed it
with α (the latter shifting degrees by the average degree);
:func:`pagerank_incremental` seeds it with the previous scores, and its
first exchange turns them into the warm-start residual, which can be
negative — so activity and ``delta_max`` test ``|delta|``, which equals the
reference's ``delta > tolerance`` on from-scratch runs, where deltas never
go negative.
:func:`eigenvector` keeps its own normalized recurrence.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark import progress
from graph_data_science_spark.graph import Graph, id_positions
from graph_data_science_spark.plans.partitioning import shuffle_hash, two_level_sum
from graph_data_science_spark.plans.pregel import ACTIVE_COL, Pregel
from graph_data_science_spark.operators.scale_properties import apply_scaler


@dataclass
class PageRankResult:
    scores: DataFrame  # (node_id, score)
    ran_iterations: int
    converged: bool
    metrics: list[dict]


def _prep_edges(graph: Graph, weighted: bool) -> DataFrame:
    if weighted:
        if not graph.has_weight():
            raise ValueError("weighted PageRank requires edges.weight")
        return graph.edges.select("src", "dst", "weight").where(F.col("weight") > 0.0)
    return graph.edges.select("src", "dst")


def pagerank(
    graph: Graph,
    damping_factor: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes: list[int] | None = None,
    scaler: str | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    skew_salt: int = 0,
) -> PageRankResult:
    """GDS ``gds.pageRank`` analog. Returns (node_id, score) + run stats."""
    return _from_scratch(
        graph, damping_factor, tolerance, max_iterations, weighted, source_nodes,
        scaler, checkpoint_dir, resume, skew_salt, degree_shift=0.0,
    )


def article_rank(
    graph: Graph,
    damping_factor: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes: list[int] | None = None,
    scaler: str | None = None,
    checkpoint_dir: str | None = None,
) -> PageRankResult:
    """``gds.articleRank``: PageRank variant dividing by (degree + avgDegree)
    (algo/.../pagerank/ArticleRankComputation.java; avg degree from
    PageRankAlgorithmFactory.java:51-60)."""
    deg = graph.degrees("out", weighted=weighted)
    avg_degree = (
        deg.agg(F.avg("degree")).first()[0] or 0.0
    )
    return _from_scratch(
        graph, damping_factor, tolerance, max_iterations, weighted, source_nodes,
        scaler, checkpoint_dir, False, 0, degree_shift=float(avg_degree),
    )


def _from_scratch(
    graph: Graph,
    damping_factor: float,
    tolerance: float,
    max_iterations: int,
    weighted: bool,
    source_nodes: list[int] | None,
    scaler: str | None,
    checkpoint_dir: str | None,
    resume: bool,
    skew_salt: int,
    degree_shift: float,
) -> PageRankResult:
    """The reference's α seed: ``rank = delta = α`` (or only on
    ``source_nodes``), over degrees shifted by ``degree_shift``."""
    alpha = 1.0 - damping_factor
    if source_nodes is not None:
        init_rank = F.when(F.col("node_id").isin([int(s) for s in source_nodes]),
                           F.lit(alpha)).otherwise(F.lit(0.0))
    else:
        init_rank = F.lit(alpha)
    state = graph.degrees("out", weighted=weighted).select(
        "node_id",
        (F.col("degree") + F.lit(degree_shift)).alias("degree"),
        init_rank.alias("rank"),
        init_rank.alias("delta"),
        # initial superstep sends regardless of tolerance (PageRankComputation
        # L90: `delta > tolerance || isInitialSuperstep`); zero-delta nodes
        # would send zeros — skip them, which is message-equivalent.
        (init_rank > 0.0).cast("int").alias(ACTIVE_COL),
    )
    return _delta_push(
        graph, state, damping_factor,
        tolerance, max_iterations, weighted, scaler=scaler,
        checkpoint_dir=checkpoint_dir, resume=resume, skew_salt=skew_salt,
        manifest={"algorithm": "pagerank", "damping_factor": damping_factor,
                  "tolerance": tolerance, "weighted": weighted,
                  "source_nodes": source_nodes, "degree_shift": degree_shift},
    )


def pagerank_incremental(
    graph: Graph,
    prev_scores: DataFrame,
    damping_factor: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
) -> PageRankResult:
    """Warm-start PageRank on an UPDATED graph from the previous run's
    converged ``(node_id, score)`` — the companion to streaming ingestion
    (streaming/ingest.py emits edge deltas).

    Push-residual formulation: the delta-push kernel maintains the
    invariant *rank + pending-push mass = fixpoint*. The kernel starts
    from ``rank = delta = prev`` (0 for new nodes) with every node
    active, and its first exchange is the residual on the NEW graph

        r_v = α + d · Σ_in prev_u / deg'_u − prev_v

    (``delta = r``, ``rank = prev + r``), which restores that invariant
    exactly, so the later exchanges converge to the same fixpoint a
    from-scratch run reaches. ``max_iterations`` counts this exchange in
    place of the send-only initial superstep; its ``metrics`` record's
    ``active`` is the frontier, the nodes whose ``|r|`` exceeds the
    tolerance. Edge DELETIONS make residuals negative.

    The frontier follows the edge delta only on tiny graphs (the locality
    test's). Measured on the 10k-file benchmark graph (perfbench
    ``incremental-ingest``), a 200-file batch starts 99.9% of nodes
    active from a capped base, and a converged base still starts 64%
    active at tol 1e-7: a residual above the tolerance spreads over the
    whole graph. So per-superstep cost, not frontier size, sets the
    price. The kernel is :func:`pagerank`'s, so the size tier picks the
    same plan (module doc): driver-local SpMV supersteps below the gate,
    one shuffle join + one partial-agg sum + state join per superstep
    otherwise."""
    deg = graph.degrees("out", weighted=weighted)
    prev = prev_scores.select(
        F.col("node_id").alias("_pn"), F.col("score").alias("_prev"))
    rank = F.coalesce("_prev", F.lit(0.0))
    state = (deg.join(prev, deg.node_id == F.col("_pn"), "left")
             .select("node_id", "degree", rank.alias("rank"),
                     rank.alias("delta"), F.lit(1).alias(ACTIVE_COL)))
    return _delta_push(graph, state, damping_factor, tolerance,
                       max_iterations, weighted, warm=True)


def _delta_push(
    graph: Graph,
    state: DataFrame,
    damping_factor: float,
    tolerance: float,
    max_iterations: int,
    weighted: bool,
    scaler: str | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    skew_salt: int = 0,
    manifest: dict | None = None,
    warm: bool = False,
) -> PageRankResult:
    """The one delta-push superstep loop, from a prepared initial
    ``state`` ``(node_id, degree, rank, delta, _active)`` over the graph's
    edges. With ``warm`` the first exchange is the residual exchange
    (:func:`pagerank_incremental`): ``delta = α + d·msg − rank``.

    The size policy picks the plan (module doc): driver-local when
    ``graph.tier()`` is ``"local"`` and the run neither checkpoints nor
    salts, the Pregel join plan otherwise.

    Activity and ``delta_max`` use ``|delta|``: from-scratch deltas are
    never negative, so this is the reference's ``delta > tolerance`` there,
    while warm starts can push negative residuals."""
    # GDS counts the send-only initial superstep in maxIterations
    # (Pregel.java:172-210 runs maxIterations supersteps, the first of which
    # only sends) — so the number of message exchanges is maxIterations - 1.
    # A warm start's residual exchange stands in for that superstep.
    exchanges = max(0, max_iterations - 1) + warm
    edges = _prep_edges(graph, weighted)
    if (not (checkpoint_dir or resume or skew_salt > 1)
            and graph.tier() == "local"):
        scores, ran, converged, metrics = _local_push(
            edges, state, damping_factor, tolerance, exchanges, weighted,
            manifest, warm)
    else:
        res = _pregel_push(
            edges, state, damping_factor, tolerance, exchanges, weighted,
            checkpoint_dir, resume, skew_salt, manifest, warm)
        scores = res.state.select("node_id", F.col("rank").alias("score"))
        ran, converged, metrics = res.ran_iterations, res.converged, res.metrics
    if scaler:
        scores = apply_scaler(scores, "score", scaler)
    # the initial superstep counts even where nothing runs (an empty graph)
    return PageRankResult(scores, max(1, ran + 1 - warm), converged, metrics)


def _pregel_push(edges, state, damping_factor, tolerance, exchanges,
                 weighted, checkpoint_dir, resume, skew_salt, manifest, warm):
    """The join plan: one Pregel superstep per message exchange, over
    ``edges`` persisted for the run and released when it ends."""
    edges = edges.persist()
    msg_val = F.col("delta") / F.col("degree")
    if weighted:
        msg_val = msg_val * F.col("weight")

    def step(st: DataFrame, superstep: int) -> DataFrame:
        senders = shuffle_hash(
            st.where(F.col(ACTIVE_COL) == 1).select("node_id", "delta", "degree"))
        raw = edges.join(senders, edges.src == senders.node_id, "inner").select(
            F.col("dst"), msg_val.alias("m")
        )
        if skew_salt > 1:
            msgs = two_level_sum(raw, "dst", "m", "msg", salt_buckets=skew_salt)
        else:
            msgs = raw.groupBy("dst").agg(F.sum("m").alias("msg"))
        joined = st.join(shuffle_hash(msgs), st.node_id == msgs.dst, "left")
        new_delta = F.coalesce(F.lit(damping_factor) * F.col("msg"), F.lit(0.0))
        if warm and superstep == 0:
            new_delta = F.lit(1.0 - damping_factor) + new_delta - F.col("rank")
        return joined.select(
            st.node_id,
            st.degree,
            (F.col("rank") + new_delta).alias("rank"),
            new_delta.alias("delta"),
            (F.abs(new_delta) > F.lit(tolerance)).cast("int").alias(ACTIVE_COL),
        )

    driver = Pregel(
        edges.sparkSession,
        max_iterations=exchanges,
        checkpoint_dir=checkpoint_dir,
        extra_metrics={"delta_max": F.max(F.abs(F.col("delta"))),
                       "rank_sum": F.sum("rank")},
        manifest=manifest,
    )
    try:
        return driver.run(state, step, resume=resume)
    finally:
        edges.unpersist()


def _local_push(edges, state, damping_factor, tolerance, exchanges,
                weighted, manifest, warm):
    """The driver-local plan: the join plan's recurrence as one sparse
    matrix-vector product per exchange → ``(scores, exchanges run,
    converged, metrics)``.

    Edges whose endpoint is not a state row are dropped, as the join
    plan's inner and left joins drop them. Each exchange leaves the same
    metrics record a Pregel block does (``fused`` 1, ``tier`` ``"local"``)
    and the run registers with ``progress`` the way ``Pregel.run`` does."""
    task = progress.begin(
        str((manifest or {}).get("algorithm", "pregel")),
        volume_total=exchanges)
    try:
        st = state.toArrow()
        e = edges.toArrow()
        order = np.argsort(st.column("node_id").to_numpy(), kind="stable")

        def col(name):
            return st.column(name).to_numpy()[order]

        ids, degree = col("node_id"), col("degree")
        rank, delta = col("rank"), col("delta")
        active = col(ACTIVE_COL) == 1
        n = len(ids)
        src, dst = e.column("src").to_numpy(), e.column("dst").to_numpy()
        sp, src_known = id_positions(ids, src)
        dp, dst_known = id_positions(ids, dst)
        known = src_known & dst_known
        sp, dp = sp[known], dp[known]
        w = e.column("weight").to_numpy()[known] if weighted else None

        metrics: list[dict] = []
        converged = not active.any()
        ran = 0
        while not converged and ran < exchanges:
            t0 = time.monotonic()
            send = active[sp]
            with np.errstate(divide="ignore", invalid="ignore"):
                m = (delta / degree)[sp[send]]
            if weighted:
                m = m * w[send]
            delta = damping_factor * np.bincount(dp[send], weights=m,
                                                 minlength=n)
            if warm and ran == 0:
                delta = (1.0 - damping_factor) + delta - rank
            rank = rank + delta
            active = np.abs(delta) > tolerance
            n_active = int(active.sum())
            metrics.append({
                "superstep": ran,
                "fused": 1,
                "tier": "local",
                "wall_ms": round((time.monotonic() - t0) * 1000.0, 3),
                "active": n_active,
                "rows": n,
                "delta_max": float(np.abs(delta).max()),
                "rank_sum": float(rank.sum()),
            })
            ran += 1
            progress.update(task, ran)
            converged = n_active == 0
        scores = edges.sparkSession.createDataFrame(
            pa.table({"node_id": ids, "score": rank})).localCheckpoint(eager=True)
    except BaseException:
        progress.finish(task, failed=True)
        raise
    progress.finish(task)
    return scores, ran, converged, metrics


def eigenvector(
    graph: Graph,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    checkpoint_dir: str | None = None,
) -> PageRankResult:
    """``gds.eigenvector``: no damping; per-superstep global L2 normalization
    + max-diff convergence in masterCompute
    (algo/.../pagerank/EigenvectorComputation.java:115-156)."""
    spark = graph.nodes.sparkSession
    edges = _prep_edges(graph, weighted).persist()
    n = graph.node_count()
    init = 1.0 / (n ** 0.5) if n else 0.0
    state = graph.nodes.select(
        "node_id", F.lit(init).alias("rank"), F.lit(1).cast("int").alias(ACTIVE_COL)
    )

    mval = F.col("rank") * F.col("weight") if weighted else F.col("rank")

    def step(st: DataFrame, superstep: int) -> DataFrame:
        senders = shuffle_hash(st.select("node_id", "rank"))
        msgs = (
            edges.join(senders, edges.src == senders.node_id, "inner")
            .select(F.col("dst"), mval.alias("m"))
            .groupBy("dst").agg(F.sum("m").alias("msg"))
        )
        joined = st.join(msgs, st.node_id == msgs.dst, "left").select(
            st.node_id, st.rank.alias("old_rank"),
            F.coalesce(F.col("msg"), F.lit(0.0)).alias("unnorm"),
        )
        norm = joined.agg(
            F.sqrt(F.sum(F.col("unnorm") * F.col("unnorm"))).alias("_norm"))
        return (
            joined.crossJoin(F.broadcast(norm))
            .select(
                "node_id",
                F.when(F.col("_norm") > 0, F.col("unnorm") / F.col("_norm"))
                .otherwise(F.lit(0.0)).alias("rank"),
                "old_rank",
            )
            .select(
                "node_id", "rank",
                (F.abs(F.col("rank") - F.col("old_rank")) > tolerance).cast("int").alias(ACTIVE_COL),
            )
        )

    driver = Pregel(spark, max_iterations=max_iterations, checkpoint_dir=checkpoint_dir)
    try:
        res = driver.run(state, step)
    finally:
        edges.unpersist()
    return PageRankResult(
        res.state.select("node_id", F.col("rank").alias("score")),
        res.ran_iterations, res.converged, res.metrics,
    )
