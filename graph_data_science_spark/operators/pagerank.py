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
  the kernel reads the Graph's driver view, ``Graph.local()`` — node ids
  and edges collected once per Graph and shared with the triangle
  kernel — plus one Arrow collect of the seed's ``(node_id, rank)``.
  Degrees are one ``np.bincount`` over the view's edges, and each
  superstep is one sparse matrix-vector product (``np.bincount`` over the
  active senders' edges). The result returns through one
  ``createDataFrame`` plus one ``localCheckpoint``. On a seeded
  10k-node, 75k-edge graph at ``local[4]`` on a 4-core VM, 20 iterations
  take about 0.7 s in 8 Spark jobs here and 10–11 s in 100 jobs on the
  join plan, whose cost is the fixed per-superstep job cost
  (docs/SCALE_NOTES.md §35, §38).
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
seed: a ``(node_id, rank)`` frame over ``graph.nodes``. :func:`pagerank`
and :func:`article_rank` seed it with α (the latter shifting degrees by
the average degree); :func:`pagerank_incremental` seeds it with the
previous scores, and its first exchange turns them into the warm-start
residual, which can be negative — so activity and ``delta_max`` test
``|delta|``, which equals the reference's ``delta > tolerance`` on
from-scratch runs, where deltas never go negative.
:func:`eigenvector` keeps its own normalized recurrence.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark import progress
from graph_data_science_spark.graph import Graph
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
    """The reference's α seed: ``rank = α`` on every node, or only on
    ``source_nodes`` (others 0), over degrees shifted by ``degree_shift``."""
    rank = F.lit(1.0 - damping_factor)
    if source_nodes is not None:
        rank = F.when(F.col("node_id").isin([int(s) for s in source_nodes]),
                      rank).otherwise(F.lit(0.0))
    return _delta_push(
        graph, graph.nodes.select("node_id", rank.alias("rank")),
        damping_factor, tolerance, max_iterations, weighted, scaler=scaler,
        checkpoint_dir=checkpoint_dir, resume=resume, skew_salt=skew_salt,
        manifest={"algorithm": "pagerank", "damping_factor": damping_factor,
                  "tolerance": tolerance, "weighted": weighted,
                  "source_nodes": source_nodes, "degree_shift": degree_shift},
        degree_shift=degree_shift,
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
    prev = prev_scores.select(
        F.col("node_id").alias("_pn"), F.col("score").alias("_prev"))
    seed = (graph.nodes.select("node_id")
            .join(prev, F.col("node_id") == F.col("_pn"), "left")
            .select("node_id", F.coalesce("_prev", F.lit(0.0)).alias("rank")))
    return _delta_push(graph, seed, damping_factor, tolerance,
                       max_iterations, weighted, warm=True)


def _delta_push(
    graph: Graph,
    seed: DataFrame,
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
    degree_shift: float = 0.0,
) -> PageRankResult:
    """The one delta-push superstep loop over the graph's edges, from a
    ``seed`` ``(node_id, rank)`` over ``graph.nodes``: ``rank = delta =
    seed``, over out-degrees shifted by ``degree_shift``. The initial
    superstep sends regardless of tolerance (PageRankComputation L90:
    ``delta > tolerance || isInitialSuperstep``), so every node seeded
    above 0 starts active (zero-delta nodes would send zeros), and every
    node when ``warm``. With ``warm`` the first exchange is the residual
    exchange (:func:`pagerank_incremental`): ``delta = α + d·msg − rank``.

    The size policy picks the plan (module doc): driver-local when
    ``graph.tier()`` is ``"local"`` and the run neither checkpoints nor
    salts, the Pregel join plan otherwise. The join plan joins the seed
    onto ``graph.degrees``; the local plan places it into ``graph.local()``.

    Activity and ``delta_max`` use ``|delta|``: from-scratch deltas are
    never negative, so this is the reference's ``delta > tolerance`` there,
    while warm starts can push negative residuals."""
    # GDS counts the send-only initial superstep in maxIterations
    # (Pregel.java:172-210 runs maxIterations supersteps, the first of which
    # only sends) — so the number of message exchanges is maxIterations - 1.
    # A warm start's residual exchange stands in for that superstep.
    exchanges = max(0, max_iterations - 1) + warm
    edges = _prep_edges(graph, weighted)  # checks the weight column too
    if (not (checkpoint_dir or resume or skew_salt > 1)
            and graph.tier() == "local"):
        scores, ran, converged, metrics = _local_push(
            graph, seed, damping_factor, tolerance, exchanges, weighted,
            degree_shift, manifest, warm)
    else:
        state = graph.degrees("out", weighted=weighted).join(
            seed, "node_id").select(
            "node_id",
            (F.col("degree") + F.lit(degree_shift)).alias("degree"),
            "rank",
            F.col("rank").alias("delta"),
            (F.lit(warm) | (F.col("rank") > 0.0)).cast("int").alias(ACTIVE_COL),
        )
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


def _local_push(graph, seed, damping_factor, tolerance, exchanges,
                weighted, degree_shift, manifest, warm):
    """The driver-local plan: the join plan's recurrence over
    ``graph.local()`` as one sparse matrix-vector product per exchange →
    ``(scores, exchanges run, converged, metrics)``.

    The state is the view's nodes; the seed's two columns are collected
    and placed into it by one ``searchsorted``. Edges with an endpoint
    that is not a node, or, ``weighted``, with a weight ≤ 0, carry no
    message, as the join plan's inner and left joins drop them. Each
    exchange leaves the same metrics record a Pregel block does
    (``fused`` 1, ``tier`` ``"local"``) and the run registers with
    ``progress`` the way ``Pregel.run`` does."""
    task = progress.begin(
        str((manifest or {}).get("algorithm", "pregel")),
        volume_total=exchanges)
    try:
        view = graph.local()
        node = view.is_node
        ids = view.ids[node]
        n = len(ids)
        degree = view.out_degree(weighted)[node] + degree_shift
        s = seed.toArrow()
        rank = np.zeros(n)
        rank[np.searchsorted(ids, s.column("node_id").to_numpy())] = (
            s.column("rank").to_numpy())
        delta = rank
        active = (rank > 0.0) | warm
        # the edges that carry messages, as positions among the nodes
        slot = np.cumsum(node) - 1
        known = node[view.src] & node[view.dst]
        if weighted:
            known &= view.weight > 0.0
        sp, dp = slot[view.src[known]], slot[view.dst[known]]
        w = view.weight[known] if weighted else None

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
        scores = graph.edges.sparkSession.createDataFrame(
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
