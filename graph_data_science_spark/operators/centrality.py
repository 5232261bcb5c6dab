"""Betweenness / closeness / harmonic centrality + allShortestPaths — all on
one multi-source BFS (MSBFS) kernel.

Reference analogs (algo/src/main/java/org/neo4j/gds/):
- ``gds.betweenness`` — betweenness/BetweennessCentrality.java:39 (Brandes
  2001, forward sphere + backward dependency accumulation; sampled via a
  source subset, exact when sources = all).
- ``gds.closeness`` / ``gds.closeness.harmonic`` —
  closeness/ClosenessCentrality.java:41, harmonic/HarmonicCentrality.java
  (farness over MSBFS distances; optional Wasserman-Faust correction).
- ``gds.allShortestPaths.stream`` — msbfs/AllShortestPaths + the MSBFS
  kernel msbfs/MultiSourceBFS.java:62 — (source, target, distance) rows.

MSBFS re-expressed relationally: the reference interleaves 64 BFS lanes in a
bit mask per node; here the lane dimension is just a column — state rows
``(s, v, dist, sigma)`` for every REACHED pair, one superstep per BFS level:
frontier ⋈ edges → partial-agg sum of path counts per (s, dst) → anti-join
against visited. All sources advance in the same join, so the number of
Spark jobs is O(diameter), not O(#sources × diameter). Distances here are
OUT-distances on the natural orientation (run on ``graph.oriented(
UNDIRECTED)`` for the undirected semantics).

Scale: state is O(reached pairs) — exact all-sources betweenness is
inherently quadratic in the worst case, which is why the reference samples;
``sources=`` takes the same role here, and per-round state is truncated via
parquet scratch snapshots (plans/pregel module doc #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.plans.loop_state import Scratch, tier
from graph_data_science_spark.plans.partitioning import shuffle_hash


def _small(rows: int | None) -> bool:
    """Runtime-adaptive join strategy for the per-level MSBFS joins: the
    scratch Observation gives the EXACT previous-level row count for free,
    so a frontier/delta slice the size policy does not put in the
    ``"parquet"`` tier is broadcast (no edge-table shuffle); in that tier,
    or at an unknown size, the scale posture (SHUFFLE_HASH against the
    cached edge partitioning) applies. Same spirit as AQE's runtime
    re-plan, but driven by exact counts instead of size estimates."""
    return tier(rows) != "parquet"


def _loop_edges(graph: Graph, scratch: Scratch) -> DataFrame:
    """Edge table for an iterative level loop: reuse the caller's cached
    edges directly (a cache scan is cheaper than a parquet round-trip);
    truncate into scratch only when uncached (lineage may be a full
    derive-from-source plan that every level would otherwise replan)."""
    edges = graph.edges.select("src", "dst")
    if graph.edges.is_cached:
        return edges
    return scratch.truncate(edges, "edges")


def msbfs(graph: Graph, sources: list[int] | None = None,
          max_iterations: int = 100, with_sigma: bool = True) -> DataFrame:
    """Multi-source BFS levels → ``(s, v, dist, sigma)`` for every pair
    where ``v`` is reachable from source ``s`` (includes (s, s, 0, 1)).
    ``sigma`` = number of distinct shortest s→v paths (Brandes' σ)."""
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        edges = _loop_edges(graph, scratch)
        if sources is None:
            src_nodes = graph.nodes.select("node_id")
            n_src = graph.node_count()
        else:
            src_nodes = spark.createDataFrame(
                [(int(s),) for s in sources], "node_id long")
            n_src = len(sources)
        frontier = src_nodes.select(
            F.col("node_id").alias("s"), F.col("node_id").alias("v"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(1.0).alias("sigma"),
        )
        # per-level stream names: each truncated exactly once, so the slot
        # is never retired and every later level (and the final union) can
        # keep referencing it. The visited set becomes a LAZY union of the
        # materialized per-level frontiers — the old union-grow ``state``
        # stream re-WROTE the full accumulated state every level
        # (O(diameter × reached-pairs) write volume, the measured r03/r04
        # betweenness regression); now each pair is written once.
        frontier = scratch.truncate(frontier, "frontier_0", rows_hint=n_src)
        state = frontier
        state_rows = n_src
        prev_rows = n_src
        for r in range(1, max_iterations + 1):
            fr = frontier.select(F.col("v").alias("src"), "s", "sigma")
            fr = F.broadcast(fr) if _small(prev_rows) else shuffle_hash(fr)
            cand = (
                edges.join(fr, "src")
                .groupBy("s", F.col("dst").alias("v"))
                .agg(F.sum("sigma").alias("sigma"))
            )
            visited = state.select("s", "v")
            if _small(state_rows):
                visited = F.broadcast(visited)
            new = cand.join(visited, ["s", "v"], "left_anti") \
                .select("s", "v", F.lit(r).cast("long").alias("dist"), "sigma")
            new = scratch.truncate(
                new, f"frontier_{r}",
                rows_hint=scratch.rows(f"frontier_{r - 1}"))
            # truncate already observed the row count — reading it is free,
            # where isEmpty() was one extra job per BFS level (O(diameter)
            # jobs per run, the measured per-level overhead in betweenness)
            if scratch.rows(f"frontier_{r}") == 0:
                break
            state = state.unionByName(new)
            prev_rows = scratch.rows(f"frontier_{r}")
            state_rows += prev_rows
            frontier = new
        out = state if with_sigma else state.select("s", "v", "dist")
        return out.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()


def all_shortest_paths(graph: Graph, sources: list[int] | None = None,
                       max_iterations: int = 100) -> DataFrame:
    """``gds.allShortestPaths.stream`` analog → (source_node, target_node,
    distance) for every reachable pair (self pairs included, distance 0)."""
    levels = msbfs(graph, sources, max_iterations, with_sigma=False)
    return levels.select(
        F.col("s").alias("source_node"), F.col("v").alias("target_node"),
        F.col("dist").cast("double").alias("distance"))


def betweenness(graph: Graph, sources: list[int] | None = None,
                max_iterations: int = 100) -> DataFrame:
    """``gds.betweenness`` analog → (node_id, score). Exact Brandes when
    ``sources`` is None; sampled (RandomDegree analog = caller-picked
    subset) otherwise. Directed semantics on the natural orientation.

    Backward phase: dependency δ(s,v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1+δ(s,w))
    accumulated level by level from the deepest BFS level down — one join +
    partial-agg sum per level, all sources in the same pass."""
    spark = graph.nodes.sparkSession
    pairs = msbfs(graph, sources, max_iterations, with_sigma=True)
    scratch = Scratch(spark)
    try:
        edges = _loop_edges(graph, scratch)
        # one D-row collect gives both max depth and per-level sizes (the
        # broadcast gate for the backward joins)
        hist = {int(r["dist"]): int(r["count"])
                for r in pairs.groupBy("dist").count().collect()}
        maxd = max(hist) if hist else 0
        # delta rows only materialize where nonzero; depth-d deltas need only
        # depth-(d+1) deltas — keep one DataFrame per level, small tail.
        # Per-level stream names (slot never retired) let the final score
        # aggregation union ALL levels' materialized deltas directly —
        # the old ``acc`` union-grow stream re-wrote every accumulated
        # dependency row once per remaining level (the r03/r04 2.1×
        # clean-window regression); now each delta row is written once and
        # aggregated once at the end.
        delta_next = pairs.where(F.col("dist") == maxd).select(
            "s", "v", F.lit(0.0).alias("delta"))
        delta_next = scratch.truncate(delta_next, f"delta_{int(maxd)}")
        incs = []
        for d in range(int(maxd) - 1, -1, -1):
            here = pairs.where(F.col("dist") == d)
            # alias the successor side's columns up front: ``pairs`` appears
            # on both sides of this join and positional disambiguation of
            # ``s == s`` is not something to rely on
            succ = pairs.where(F.col("dist") == d + 1).select(
                F.col("s").alias("_ws"), F.col("v").alias("_w"),
                F.col("sigma").alias("_sw"))
            succ = succ.join(delta_next.select(
                F.col("s").alias("_ws"), F.col("v").alias("_w"),
                F.col("delta").alias("_dw")),
                ["_ws", "_w"], "left").withColumn(
                "_dw", F.coalesce("_dw", F.lit(0.0)))
            if _small(hist.get(d)):
                here = F.broadcast(here)
            succ = F.broadcast(succ) if _small(hist.get(d + 1)) \
                else shuffle_hash(succ)
            contrib = (
                here.join(edges, here.v == edges.src)
                .join(succ,
                      (F.col("s") == F.col("_ws")) & (edges.dst == F.col("_w")),
                      "inner")
                .select(F.col("s"), F.col("v"),
                        (F.col("sigma") / F.col("_sw") * (1.0 + F.col("_dw"))).alias("_c"))
                .groupBy("s", "v").agg(F.sum("_c").alias("delta"))
            )
            delta_next = scratch.truncate(
                contrib, f"delta_{d}",
                rows_hint=scratch.rows(f"delta_{d + 1}"))
            incs.append(delta_next.where(F.col("s") != F.col("v"))
                        .select("v", "delta"))
        if not incs:
            scores = graph.nodes.select(
                "node_id", F.lit(0.0).alias("score"))
        else:
            acc = incs[0]
            for inc in incs[1:]:
                acc = acc.unionByName(inc)
            bc = acc.groupBy(F.col("v").alias("node_id")).agg(
                F.sum("delta").alias("score"))
            scores = graph.nodes.select("node_id").join(bc, "node_id", "left") \
                .select("node_id",
                        F.round(F.coalesce("score", F.lit(0.0)), 6).alias("score"))
        return scores.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()


def closeness(graph: Graph, wasserman_faust: bool = False,
              max_iterations: int = 100) -> DataFrame:
    """``gds.closeness`` analog → (node_id, score) over OUT-distances:
    ``(r−1) / Σd`` with r = #reachable nodes (incl. self); the
    ``useWassermanFaust`` variant multiplies by ``(r−1)/(n−1)``
    (closeness/ClosenessCentrality.java:41 config surface). Nodes reaching
    nobody score 0."""
    levels = msbfs(graph, None, max_iterations, with_sigma=False)
    n = graph.node_count()
    per_src = levels.groupBy(F.col("s").alias("node_id")).agg(
        (F.count(F.lit(1)) - 1).cast("double").alias("r1"),
        F.sum("dist").cast("double").alias("sumd"))
    score = F.when(F.col("sumd") > 0, F.col("r1") / F.col("sumd")) \
        .otherwise(F.lit(0.0))
    if wasserman_faust and n > 1:
        score = score * (F.col("r1") / F.lit(float(n - 1)))
    return graph.nodes.select("node_id").join(per_src, "node_id", "left") \
        .select("node_id", F.round(F.coalesce(score, F.lit(0.0)), 6).alias("score"))


def harmonic(graph: Graph, max_iterations: int = 100) -> DataFrame:
    """``gds.closeness.harmonic`` analog → (node_id, score):
    ``Σ_{v≠u reachable} 1/d(u,v) / (n−1)`` over OUT-distances."""
    levels = msbfs(graph, None, max_iterations, with_sigma=False)
    n = graph.node_count()
    per_src = levels.where(F.col("dist") > 0).groupBy(
        F.col("s").alias("node_id")).agg(
        F.sum(F.lit(1.0) / F.col("dist")).alias("h"))
    denom = float(n - 1) if n > 1 else 1.0
    return graph.nodes.select("node_id").join(per_src, "node_id", "left") \
        .select("node_id",
                F.round(F.coalesce(F.col("h") / F.lit(denom), F.lit(0.0)), 6)
                .alias("score"))
