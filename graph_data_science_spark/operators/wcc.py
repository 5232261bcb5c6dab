"""WCC (weakly connected components) — iterative min-label propagation.

Reference semantics (algo/src/main/java/org/neo4j/gds/wcc/Wcc.java:55,104-140):
parallel union-find over HugeAtomicDisjointSetStruct with **Union-by-Min —
"the smaller community ID wins"** (core/.../paged/dss/
HugeAtomicDisjointSetStruct.java:163-180). With unseeded start the resulting
``setIdOf(node)`` is exactly the **minimum internal node id of the
component** — which is what min-label propagation converges to, so the two
formulations produce identical output (SURVEY §2.4).

Config surface mirrors WccBaseConfig.java:30-46:
- ``threshold``: union only edges with ``weight > threshold``
  (SampledStrategy.java:258-264 — strictly greater).
- ``seed_property``: incremental/seeded components — a node starts in
  component ``seed`` when present, else in a fresh singleton id placed above
  every seed (``max_seed + 1 + node_id``), matching the reference's
  seeded DisjointSetStruct layout (HugeAtomicDisjointSetStruct.java:129-146).
- ``consecutive_ids``: remap result ids to 0..k-1 ordered by component id.

This is the package's one min-label connected-components kernel. Its
in-package callers: :func:`wcc_incremental` (the contracted batch graph),
``operators/pipeline_ops.py`` (fuzzy-dedup duplicate groups),
``operators/louvain.py`` ``_refine_connectivity`` (Leiden's connectivity
split) and ``operators/paths.py`` ``bellman_ford`` (negative-cycle
grouping).

Spark plan per superstep: one shuffle join (mirrored edges ⋈ changed nodes)
+ one partial-aggregated min per dst + one join back. Only nodes whose
component improved stay active, so the frontier shrinks every superstep —
the relational analog of union-find's path compression converging. Lineage
is truncated per superstep by the Pregel driver; at 10^12 edges the mirrored
edge table is persisted once, hash-partitioned by src, and reused across all
supersteps.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from graph_data_science_spark.graph import Graph, graph_from_edges
from graph_data_science_spark.plans.partitioning import shuffle_hash
from graph_data_science_spark.plans.pregel import ACTIVE_COL, Pregel


@dataclass
class WccResult:
    components: DataFrame  # (node_id, component)
    ran_iterations: int
    converged: bool
    metrics: list[dict]


def wcc(
    graph: Graph,
    threshold: float | None = None,
    seed_property: str | None = None,
    consecutive_ids: bool = False,
    max_iterations: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> WccResult:
    """``gds.wcc`` analog. Returns ``(node_id, component)``; component ids are
    the minimum node id (or seed) in each component."""
    spark = graph.nodes.sparkSession

    e = graph.edges
    if threshold is not None:
        if "weight" not in e.columns:
            raise ValueError("threshold requires edges.weight")
        e = e.where(F.col("weight") > float(threshold))
    if seed_property is not None:
        if seed_property not in graph.nodes.columns:
            raise ValueError(f"missing seed column {seed_property!r}")
        max_seed = graph.nodes.agg(F.max(seed_property)).first()[0]
        base = -1 if max_seed is None else int(max_seed)
        init_comp = F.coalesce(
            F.col(seed_property).cast("long"),
            F.col("node_id") + F.lit(base + 1),
        )
    else:
        init_comp = F.col("node_id")
    state = graph.nodes.select(
        "node_id",
        init_comp.alias("component"),
        F.lit(1).cast("int").alias(ACTIVE_COL),
    )

    # WCC ignores direction: mirror every edge once, up front. NO dedup —
    # min-label propagation is idempotent, so parallel/mirrored duplicate
    # edges contribute the same min and the per-superstep map-side combine
    # collapses them for free; a distinct here would cost a full shuffle
    # of the edge table (measured 1.8 s of an 8.4 s sf0.1 run, removing
    # ZERO rows) and at 10^12 edges that shuffle is the whole job.
    e = e.select("src", "dst")
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).where(F.col("src") != F.col("dst")).persist()

    def step(st: DataFrame, superstep: int) -> DataFrame:
        # only nodes whose component changed last round need to re-broadcast
        changed = shuffle_hash(st.where(F.col(ACTIVE_COL) == 1).select(
            F.col("node_id").alias("_n"), F.col("component").alias("_c")
        ))
        msgs = (
            edges.join(changed, edges.src == F.col("_n"), "inner")
            .groupBy("dst")
            .agg(F.min("_c").alias("_min_c"))
        )
        joined = st.join(shuffle_hash(msgs), st.node_id == msgs.dst, "left")
        new_comp = F.least(F.col("component"), F.coalesce(F.col("_min_c"), F.col("component")))
        return joined.select(
            st.node_id,
            new_comp.alias("component"),
            (new_comp < F.col("component")).cast("int").alias(ACTIVE_COL),
        )

    driver = Pregel(
        spark,
        max_iterations=max_iterations,
        checkpoint_dir=checkpoint_dir,
        # approx: the metric rides the snapshot-write job via Observation,
        # which cannot host exact distinct aggregates
        extra_metrics={"distinct_components": F.approx_count_distinct("component")},
        manifest={"algorithm": "wcc", "threshold": threshold,
                  "seed_property": seed_property},
    )
    try:
        res = driver.run(state, step, resume=resume)
    finally:
        edges.unpersist()
    comps = res.state.select("node_id", "component")
    if consecutive_ids:
        # cardinality = #components ≪ #nodes; the window runs over the small
        # distinct set, then broadcasts back (gds `consecutiveIds` remap)
        distinct = comps.select("component").distinct()
        remap = distinct.withColumn(
            "_new", F.row_number().over(Window.orderBy("component")) - 1
        )
        comps = (
            comps.join(F.broadcast(remap), "component")
            .select("node_id", F.col("_new").alias("component"))
        )
    return WccResult(comps, res.ran_iterations, res.converged, res.metrics)


def wcc_incremental(
    prev_components: DataFrame,
    new_edges: DataFrame,
    threshold: float | None = None,
) -> WccResult:
    """Merge an edge DELTA into converged ``(node_id, component)`` labels —
    the components companion to ``pagerank_incremental`` over the streaming
    ingest path (streaming/ingest.py emits the deltas).

    Contracted-graph formulation: a new edge can only ever MERGE existing
    components (component ids here are min-node-ids, so a merged component's
    id is the min of the merged ids — exactly what min-label WCC computes).
    So instead of re-propagating labels over the full graph, map each new
    edge's endpoints to their current components, drop the edges that land
    inside one component, and run the engine's own :func:`wcc` on the
    CONTRACTED graph whose vertices are the touched components — at most
    ``2·|batch|`` of them, regardless of how many nodes/edges the
    accumulated graph holds. The resulting remap is broadcast back onto the
    label table in one join.

    Per-batch cost is therefore O(|batch| + |touched components| +
    one broadcast-join pass over the label table) with NO scan of the
    accumulated edge table — at 10^12 edges a full min-label recompute
    per ingest batch re-shuffles the world; this touches the batch's blast
    radius only. Equivalence (tested, any batch split): draining batches
    through this equals :func:`wcc` on the union of all edges.
    """
    e = new_edges
    if threshold is not None:
        if "weight" not in e.columns:
            raise ValueError("threshold requires edges.weight")
        e = e.where(F.col("weight") > float(threshold))
    e = e.select("src", "dst")

    prev = prev_components.select("node_id", "component")
    # endpoints BEFORE dropping self-loops: a self-loop still introduces its
    # node (as a singleton), exactly as graph_from_edges does for full wcc
    ends = (e.select(F.col("src").alias("node_id"))
            .unionByName(e.select(F.col("dst").alias("node_id")))
            .distinct())
    e = e.where(F.col("src") != F.col("dst"))
    # endpoints never seen before enter as their own singleton component
    fresh = ends.join(prev, "node_id", "left_anti").select(
        "node_id", F.col("node_id").alias("component"))
    # read three times below; a lazy local checkpoint (not a persist) so the
    # ContextCleaner frees it once the caller drops the returned frame
    labels = prev.unionByName(fresh).localCheckpoint(eager=False)

    # endpoint → current component (the batch side is small: broadcast it
    # into the label table's layout rather than shuffling the labels)
    s_lab = labels.select(F.col("node_id").alias("_sn"),
                          F.col("component").alias("_sc"))
    d_lab = labels.select(F.col("node_id").alias("_dn"),
                          F.col("component").alias("_dc"))
    contracted = (
        e.join(s_lab, e.src == F.col("_sn"))
        .join(d_lab, e.dst == F.col("_dn"))
        .where(F.col("_sc") != F.col("_dc"))
        .select(F.col("_sc").alias("src"), F.col("_dc").alias("dst"))
        .distinct()
        .persist()
    )
    n_edges = contracted.count()
    if n_edges == 0:
        contracted.unpersist()
        return WccResult(labels, 0, True, [])

    # min-label WCC over the touched-component graph: tiny by construction.
    # Its diameter is at most its edge count, so this cap always converges
    # (a batch may chain far more components than wcc's default cap)
    inner = wcc(graph_from_edges(labels.sparkSession, contracted),
                max_iterations=n_edges + 1)
    remap = inner.components.select(
        F.col("node_id").alias("_old"), F.col("component").alias("_new"))
    merged = (
        labels.join(F.broadcast(remap), labels.component == F.col("_old"),
                    "left")
        .select("node_id",
                F.coalesce(F.col("_new"), F.col("component"))
                .alias("component"))
    )
    contracted.unpersist()
    return WccResult(merged, inner.ran_iterations, inner.converged,
                     inner.metrics)
