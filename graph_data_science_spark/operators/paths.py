"""Path/traversal algorithms: BFS, single-source shortest path, DAG levels.

Reference analogs (algo/src/main/java/org/neo4j/gds/):
- ``gds.bfs`` (traversal/Bfs.java) → :func:`bfs` — hop distance from a
  source; the streaming order the reference emits is a traversal artifact,
  the deterministic result is the distance map.
- ``gds.bellmanFord`` / ``gds.allShortestPaths.delta`` (paths/delta/
  DeltaStepping.java) → :func:`shortest_paths` — iterative relaxation over
  the frontier; Spark's shuffle-join superstep IS delta-stepping with one
  bucket; non-negative weights converge in ≤ longest-shortest-path hops.
- ``gds.dag.topologicalSort`` / ``gds.dag.longestPath`` (dag/) →
  :func:`dag_levels` — longest-path-from-roots level per node, the
  deterministic core of both procs (a valid topological order = sort by
  level; longestPath = the level itself when weights are 1).

All three share the Pregel frontier pattern: per superstep one edges ⋈
active-frontier join + one partial-aggregated min/max + one state join.
Frontier shrinks as distances settle (vote-to-halt), so late supersteps
touch a small fraction of the graph.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.operators.wcc import wcc
from graph_data_science_spark.plans.loop_state import Scratch
from graph_data_science_spark.plans.partitioning import shuffle_hash
from graph_data_science_spark.plans.pregel import ACTIVE_COL, Pregel

_INF = float("inf")


@dataclass
class PathResult:
    distances: DataFrame  # (node_id, distance) — unreachable = Infinity
    ran_iterations: int
    converged: bool


def _frontier_min(graph: Graph, init_dist, relax_expr, max_iterations: int,
                  weighted: bool) -> PathResult:
    spark = graph.nodes.sparkSession
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    edges = graph.edges.select(*cols).persist()

    state = graph.nodes.select(
        "node_id",
        init_dist.alias("dist"),
        (init_dist < F.lit(_INF)).cast("int").alias(ACTIVE_COL),
    )

    def step(st: DataFrame, superstep: int) -> DataFrame:
        frontier = shuffle_hash(st.where(F.col(ACTIVE_COL) == 1).select(
            F.col("node_id").alias("_n"), F.col("dist").alias("_d")
        ))
        cand = edges.join(frontier, edges.src == F.col("_n"), "inner").select(
            F.col("dst"), relax_expr.alias("_cand")
        ).groupBy("dst").agg(F.min("_cand").alias("_best"))
        joined = st.join(shuffle_hash(cand), st.node_id == cand.dst, "left")
        new_dist = F.least(F.col("dist"), F.coalesce(F.col("_best"), F.col("dist")))
        return joined.select(
            st.node_id,
            new_dist.alias("dist"),
            (new_dist < F.col("dist")).cast("int").alias(ACTIVE_COL),
        )

    driver = Pregel(spark, max_iterations=max_iterations)
    res = driver.run(state, step)
    edges.unpersist()
    if not res.converged:
        # a capped frontier leaves reachable nodes at inf or too far:
        # wrong distances, not partial ones
        raise ValueError(
            f"frontier relaxation did not converge in {max_iterations} "
            "iterations — raise max_iterations")
    return PathResult(
        res.state.select("node_id", F.col("dist").alias("distance")),
        res.ran_iterations, res.converged,
    )


def bfs(graph: Graph, source: int, max_iterations: int = 100) -> PathResult:
    """Hop distance from ``source`` → (node_id, distance); unreachable = inf.
    Raises ``ValueError`` if the frontier is still moving after
    ``max_iterations`` supersteps (an eccentricity above the cap)."""
    init = F.when(F.col("node_id") == int(source), F.lit(0.0)).otherwise(F.lit(_INF))
    return _frontier_min(
        graph, init, F.col("_d") + F.lit(1.0), max_iterations, weighted=False)


def shortest_paths(graph: Graph, source: int, weighted: bool = True,
                   max_iterations: int = 100) -> PathResult:
    """Single-source shortest paths (Bellman-Ford relaxation; delta-stepping
    with one bucket). Non-negative weights assumed; raises after
    ``max_iterations`` without convergence (negative-cycle guard)."""
    if weighted and not graph.has_weight():
        raise ValueError("weighted shortest paths require edges.weight")
    init = F.when(F.col("node_id") == int(source), F.lit(0.0)).otherwise(F.lit(_INF))
    relax = F.col("_d") + (F.col("weight") if weighted else F.lit(1.0))
    return _frontier_min(graph, init, relax, max_iterations, weighted=weighted)


def shortest_paths_delta(graph: Graph, source: int, delta: float = 2.0,
                         weighted: bool = True,
                         max_iterations: int = 10_000) -> PathResult:
    """``gds.allShortestPaths.delta`` analog — bucketed Meyer–Sanders
    delta-stepping (reference: paths/delta/DeltaStepping.java:54; default
    delta = 2.0 per config/AllShortestPathsDeltaBaseConfig.java:33).

    Same fixpoint as :func:`shortest_paths` (identical distances; the
    oracle is shared), but the relaxation SCHEDULE processes distance
    ranges in Δ-width buckets: within bucket b only LIGHT edges (w < Δ)
    relax, repeatedly, from pending nodes whose tentative distance lies in
    [bΔ, (b+1)Δ); when the bucket drains, HEAVY edges (w ≥ Δ) relax once
    from exactly the nodes settled in that bucket, and the loop jumps to
    the next non-empty bucket. Why it matters at scale: Bellman-Ford
    re-relaxes the whole live frontier every superstep; here the frontier
    is one distance band, so total edge relaxations approach one light
    pass per band plus one heavy pass per settled node — the reference's
    parallel-work bound.

    Spark plan per phase (identical shape to _frontier_min): frontier
    filter (bucket bounds + pending bit, both codegen'd) → edge join
    (shuffle-hash on the small frontier side) → min partial-agg → state
    left-join; the drain/next-bucket aggregates ride the scratch write via
    Observation, one job per phase, no per-row Python. Buckets with no
    pending member are skipped outright (the Observation returns the next
    non-empty index), so sparse distance distributions don't pay empty
    supersteps."""
    if weighted and not graph.has_weight():
        raise ValueError("weighted shortest paths require edges.weight")
    d = float(delta)
    if not d > 0.0:
        raise ValueError("delta must be > 0")

    spark = graph.nodes.sparkSession
    w = F.col("weight") if weighted else F.lit(1.0)
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    edges = graph.edges.select(*cols)
    light = edges.where(w < F.lit(d)).persist()
    heavy = edges.where(w >= F.lit(d)).persist()

    scratch = Scratch(spark)
    try:
        state = scratch.truncate(
            graph.nodes.select(
                "node_id",
                F.when(F.col("node_id") == int(source), F.lit(0.0))
                .otherwise(F.lit(_INF)).alias("dist"),
                (F.col("node_id") == int(source)).cast("int").alias("_pend"),
            ), "st")
        # pending nodes always carry finite dist (the bit is only ever set
        # by a finite relaxation), so the bucket min never sees inf
        bucket_of = F.floor(F.col("dist") / F.lit(d))
        row = state.agg(
            F.min(F.when(F.col("_pend") == 1, bucket_of)).alias("b")).first()
        b = row["b"]
        ran = 0
        while b is not None and ran < max_iterations:
            in_b = bucket_of == int(b)

            def _phase(edge_set, frontier_pred, clear_frontier: bool):
                frontier = shuffle_hash(
                    state.where(frontier_pred).select(
                        F.col("node_id").alias("_n"),
                        F.col("dist").alias("_d")))
                cand = (edge_set.join(frontier, edge_set.src == F.col("_n"),
                                      "inner")
                        .select(F.col("dst"), (F.col("_d") + w).alias("_c"))
                        .groupBy("dst").agg(F.min("_c").alias("_best")))
                joined = state.join(shuffle_hash(cand),
                                    state.node_id == cand.dst, "left")
                new_dist = F.least(
                    F.col("dist"), F.coalesce(F.col("_best"), F.col("dist")))
                improved = new_dist < F.col("dist")
                pend = F.when(improved, F.lit(1))
                if clear_frontier:
                    pend = pend.when(frontier_pred, F.lit(0))
                new = joined.select(
                    state.node_id, new_dist.alias("dist"),
                    pend.otherwise(F.col("_pend")).cast("int").alias("_pend"))
                obs = Observation()
                new = new.observe(
                    obs,
                    F.sum(F.when((F.col("_pend") == 1)
                                 & (F.floor(F.col("dist") / F.lit(d))
                                    == int(b)), 1)
                          .otherwise(0)).alias("in_bucket"),
                    F.min(F.when(F.col("_pend") == 1,
                                 F.floor(F.col("dist") / F.lit(d))))
                    .alias("next_b"))
                return scratch.truncate(new, "st"), obs.get

            # LIGHT: drain the bucket (relaxed nodes clear their pending
            # bit; re-improved ones re-enter)
            drained = False
            while not drained and ran < max_iterations:
                state, met = _phase(
                    light, (F.col("_pend") == 1) & in_b, clear_frontier=True)
                ran += 1
                drained = int(met["in_bucket"] or 0) == 0
            # HEAVY: one pass from every node whose final dist landed in
            # bucket b (they settle exactly now; earlier buckets already
            # relaxed theirs, so nothing is re-relaxed)
            if ran < max_iterations:
                state, met = _phase(heavy, in_b, clear_frontier=False)
                ran += 1
            b = met["next_b"]
        converged = b is None
        out = state.select(
            "node_id", F.col("dist").alias("distance")).localCheckpoint(
            eager=True)
        return PathResult(out, ran, converged)
    finally:
        scratch.cleanup()
        light.unpersist()
        heavy.unpersist()


@dataclass
class ShortestPathResult:
    #: (source_node, target_node, total_cost, node_ids: array<long>,
    #:  costs: array<double>, path: '->'-joined id string)
    paths: DataFrame
    ran_iterations: int
    converged: bool


def _reconstruct_paths(res_state: DataFrame, ran_iterations: int,
                       src_id: int, final: DataFrame) -> DataFrame:
    """Shared pred-pointer path reconstruction for dijkstra/astar:
    walk ``pred`` backward from each row of ``final`` (node_id, dist),
    prepending into an accumulated array — L rounds for the longest path,
    all targets simultaneously (no per-target driver loop). Returns the
    PathResult-shaped DataFrame (source_node, target_node, total_cost,
    node_ids, costs, path) MATERIALIZED (single terminal localCheckpoint);
    intermediate truncations go through a parquet scratch that is cleaned
    up before returning, so repeated calls (e.g. Yens' spur loop) pin no
    storage."""
    scratch = Scratch(res_state.sparkSession)
    try:
        preds = scratch.truncate(res_state.select(
            F.col("node_id").alias("_pn"), F.col("pred").alias("_pp")), "preds")
        walk = scratch.truncate(final.select(
            F.col("node_id").alias("target_node"),
            F.col("dist").alias("total_cost"),
            F.col("node_id").alias("_cur"),
            F.array(F.col("node_id")).alias("node_ids"),
        ), "walk")
        for i in range(ran_iterations + 1):
            at_src = F.col("_cur") == src_id
            walk = walk.join(preds, walk["_cur"] == preds["_pn"], "inner").select(
                "target_node", "total_cost",
                F.when(at_src, F.col("_cur")).otherwise(F.col("_pp")).alias("_cur"),
                F.when(at_src, F.col("node_ids"))
                .otherwise(F.concat(F.array(F.col("_pp")), F.col("node_ids"))).alias("node_ids"),
            )
            if (i + 1) % 4 == 0:
                walk = scratch.truncate(walk, "walk")
        base = walk.select(
            F.lit(src_id).cast("long").alias("source_node"), "target_node",
            "total_cost", "node_ids",
            F.concat_ws("->", F.col("node_ids").cast("array<string>")).alias("path"))
        # costs[i] = settled distance of node_ids[i] — rebuilt from the final
        # state so the array is exact regardless of walk order
        dist_map = res_state.select(F.col("node_id").alias("_dn"),
                                    F.col("dist").alias("_dv"))
        exploded = base.select("source_node", "target_node", "total_cost", "path",
                               F.posexplode("node_ids").alias("_pos", "_nid"))
        costs = (exploded.join(dist_map, exploded["_nid"] == dist_map["_dn"])
                 .groupBy("source_node", "target_node", "total_cost", "path")
                 .agg(F.array_sort(F.collect_list(
                     F.struct("_pos", "_nid", "_dv"))).alias("_z")))
        out = costs.select(
            "source_node", "target_node", "total_cost",
            F.transform(F.col("_z"), lambda s: s["_nid"]).alias("node_ids"),
            F.transform(F.col("_z"), lambda s: s["_dv"]).alias("costs"),
            "path",
        )
        # materialize before the scratch files vanish
        return out.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()


def dijkstra(graph: Graph, source: int, weighted: bool = True,
             max_iterations: int = 100, targets: list[int] | None = None
             ) -> ShortestPathResult:
    """``gds.shortestPath.dijkstra`` analog WITH path reconstruction —
    (sourceNode, targetNode, totalCost, nodeIds, costs) per reachable target
    (paths/dijkstra/Dijkstra.java:47; PathResult schema from
    paths/PathResult.java).

    Superstep relaxation carrying an argmin PREDECESSOR: per round each
    improved node's (dist, pred) is the min ``struct(candidate_dist, sender)``
    over frontier offers — deterministic (equal-cost ties → smaller
    predecessor id), so the predecessor tree and therefore every returned
    path is unique and engine-portable (the DuckDB oracle unrolls the same
    recurrence). Dijkstra's priority queue is a sequential scheduling
    device; the fixpoint it computes is this relaxation's (SURVEY §2.5 —
    delta-stepping with one bucket), reached in ≤ longest-shortest-path-hops
    supersteps.

    Path reconstruction is a second superstep loop walking ``pred`` pointers
    backward, prepending to an accumulated array — L rounds for the longest
    path, all targets reconstructed simultaneously (no per-target driver
    loop)."""
    if weighted and not graph.has_weight():
        raise ValueError("weighted shortest paths require edges.weight")
    spark = graph.nodes.sparkSession
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    edges = graph.edges.select(*cols).persist()
    src_id = int(source)

    init = F.when(F.col("node_id") == src_id, F.lit(0.0)).otherwise(F.lit(_INF))
    state = graph.nodes.select(
        "node_id", init.alias("dist"),
        F.col("node_id").alias("pred"),
        (init < F.lit(_INF)).cast("int").alias(ACTIVE_COL),
    )
    relax = F.col("_d") + (F.col("weight") if weighted else F.lit(1.0))

    def step(st: DataFrame, superstep: int) -> DataFrame:
        frontier = shuffle_hash(st.where(F.col(ACTIVE_COL) == 1).select(
            F.col("node_id").alias("_n"), F.col("dist").alias("_d")))
        cand = (
            edges.join(frontier, edges.src == F.col("_n"), "inner")
            .select(F.col("dst"), relax.alias("_cd"), F.col("src").alias("_p"))
            .groupBy("dst")
            .agg(F.min(F.struct(F.col("_cd"), F.col("_p"))).alias("_best"))
        )
        joined = st.join(shuffle_hash(cand), st.node_id == cand.dst, "left")
        better = F.col("_best._cd") < F.col("dist")
        return joined.select(
            st.node_id,
            F.when(better, F.col("_best._cd")).otherwise(F.col("dist")).alias("dist"),
            F.when(better, F.col("_best._p")).otherwise(F.col("pred")).alias("pred"),
            F.coalesce(better, F.lit(False)).cast("int").alias(ACTIVE_COL),
        )

    # fuse=1: explored_states (Σ active per superstep) is part of this
    # operator's contract — A*'s pruning evidence is measured against it,
    # and fused blocks would only observe block-final counts
    driver = Pregel(spark, max_iterations=max_iterations, fuse=1)
    res = driver.run(state, step)
    edges.unpersist()

    final = res.state.where(F.col("dist") < F.lit(_INF))
    if targets is not None:
        tl = [int(t) for t in targets]
        final = final.where(F.col("node_id").isin(tl))
    out = _reconstruct_paths(res.state, res.ran_iterations, src_id, final)
    result = ShortestPathResult(out, res.ran_iterations, res.converged)
    # exploration volume (Σ active over supersteps) — the baseline A*'s
    # bound-pruning is measured against
    result.explored_states = sum(m["active"] for m in res.metrics)
    return result


#: nautical-mile Earth radius — the reference's haversine constant
#: (paths/astar/AStar.java HaversineHeuristic: 6371 km × 0.539957)
_EARTH_RADIUS_NM = 6371 * 0.539957


def _haversine_nm(lat1, lon1, lat2, lon2):
    """Great-circle distance in nautical miles (columns in degrees) —
    the reference's HaversineHeuristic.distance (paths/astar/AStar.java)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat, dlon = F.radians(lat2 - lat1) / 2, F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + \
        F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * _EARTH_RADIUS_NM) * F.asin(F.sqrt(a))


def astar(graph: Graph, source: int, target: int, weighted: bool = True,
          max_iterations: int = 100,
          latitude_property: str | None = None,
          longitude_property: str | None = None) -> ShortestPathResult:
    """``gds.shortestPath.astar`` analog — heuristic-PRUNED search, not a
    dijkstra alias (paths/astar/AStar.java).

    The reference's priority queue orders exploration by f = g + h(node)
    (haversine to the target over ``latitudeProperty``/``longitudeProperty``).
    A breadth-parallel superstep has no queue, so the pruning is expressed as
    **branch-and-bound on f**: per superstep only frontier nodes with
    ``g + h < best`` expand, where ``best`` is the target's settled distance
    as of the PREVIOUS superstep — it rides the Pregel Observation
    (``driver.metrics_so_far``), so reading it costs zero extra jobs and
    lags one superstep, which only under-prunes, never cuts a node that
    could still improve the target. With an admissible h this is exact (a
    node cut by the bound reaches the target at cost ≥ g + h ≥ best), and
    the explored-state volume shrinks the way the reference's queue
    ordering shrinks it; h = 0 (no coordinates) degrades to plain bound
    pruning, still exact, still strictly less exploration than fixpoint
    dijkstra once the target settles.

    Exploration volume is observable as ``sum(active)`` over the run's
    metrics — tests assert astar explores fewer states than dijkstra."""
    if weighted and not graph.has_weight():
        raise ValueError("weighted shortest paths require edges.weight")
    spark = graph.nodes.sparkSession
    src_id, tgt_id = int(source), int(target)
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    edges = graph.edges.select(*cols).persist()

    if (latitude_property is None) != (longitude_property is None):
        raise ValueError("latitude_property and longitude_property go together")
    tgt_exists = graph.nodes.where(F.col("node_id") == tgt_id).limit(1).count()
    if tgt_exists == 0:
        raise ValueError(f"target node {tgt_id} not in graph")
    if latitude_property is not None:
        for p in (latitude_property, longitude_property):
            if p not in graph.nodes.columns:
                raise ValueError(f"The property `{p}` has not been loaded")
        tgt_row = graph.nodes.where(F.col("node_id") == tgt_id).select(
            latitude_property, longitude_property).first()
        if tgt_row[0] is None or tgt_row[1] is None:
            raise ValueError(
                f"target node {tgt_id} has NULL {latitude_property}/"
                f"{longitude_property} — A* needs target coordinates")
        # NULL coordinates on intermediate nodes degrade to h = 0 (always
        # admissible) instead of a NULL predicate that would silently drop
        # the node from the frontier forever
        h_col = F.coalesce(
            _haversine_nm(
                F.col(latitude_property), F.col(longitude_property),
                F.lit(float(tgt_row[0])), F.lit(float(tgt_row[1]))),
            F.lit(0.0))
    else:
        h_col = F.lit(0.0)

    init = F.when(F.col("node_id") == src_id, F.lit(0.0)).otherwise(F.lit(_INF))
    state = graph.nodes.select(
        "node_id", init.alias("dist"),
        F.col("node_id").alias("pred"),
        h_col.alias("_h"),
        # _improved tracks every dist improvement (the exploration-volume
        # metric); _active additionally requires surviving the f-bound
        (init < F.lit(_INF)).cast("int").alias("_improved"),
        (init < F.lit(_INF)).cast("int").alias(ACTIVE_COL),
    )
    relax = F.col("_d") + (F.col("weight") if weighted else F.lit(1.0))

    driver = Pregel(
        spark, max_iterations=max_iterations,
        extra_metrics={
            "best_target": F.min(
                F.when(F.col("node_id") == tgt_id, F.col("dist"))),
            "improved": F.sum("_improved"),
        },
        # steers each superstep off the previous one's best_target aggregate
        # (branch-and-bound) — superstep fusion would compose steps before
        # that aggregate exists
        fuse=1,
        manifest={"algorithm": "astar", "source": src_id, "target": tgt_id})

    def step(st: DataFrame, superstep: int) -> DataFrame:
        hist = driver.metrics_so_far
        best = hist[-1]["best_target"] if hist else None
        bound = F.lit(best if best is not None else _INF)
        # bound-pruned frontier: expand only where f = g + h < best
        frontier = shuffle_hash(st.where(
            (F.col(ACTIVE_COL) == 1)
            & (F.col("dist") + F.col("_h") < bound)
        ).select(F.col("node_id").alias("_n"), F.col("dist").alias("_d")))
        cand = (
            edges.join(frontier, edges.src == F.col("_n"), "inner")
            .select(F.col("dst"), relax.alias("_cd"), F.col("src").alias("_p"))
            .groupBy("dst")
            .agg(F.min(F.struct(F.col("_cd"), F.col("_p"))).alias("_offer"))
        )
        joined = st.join(shuffle_hash(cand), st.node_id == cand.dst, "left")
        better = F.col("_offer._cd") < F.col("dist")
        new_dist = F.when(better, F.col("_offer._cd")).otherwise(F.col("dist"))
        return joined.select(
            st.node_id,
            new_dist.alias("dist"),
            F.when(better, F.col("_offer._p")).otherwise(F.col("pred")).alias("pred"),
            F.col("_h"),
            F.coalesce(better, F.lit(False)).cast("int").alias("_improved"),
            # improved-but-out-of-bound nodes stay quiet: they cannot lead
            # to a better target path (admissibility) so never re-expand
            (F.coalesce(better, F.lit(False))
             & (new_dist + F.col("_h") < bound)).cast("int").alias(ACTIVE_COL),
        )

    res = driver.run(state, step)
    edges.unpersist()

    # path reconstruction: walk pred pointers backward from the target
    final = res.state.where(
        (F.col("node_id") == tgt_id) & (F.col("dist") < F.lit(_INF)))
    out = _reconstruct_paths(res.state, res.ran_iterations, src_id, final)
    result = ShortestPathResult(out, res.ran_iterations, res.converged)
    # exploration-volume evidence for tests/plan audits: every dist
    # improvement counts, including improvements the bound then silences
    result.explored_states = sum(m["improved"] for m in res.metrics)
    return result


def yens(graph: Graph, source: int, target: int, k: int = 3,
         weighted: bool = True, max_iterations: int = 50) -> DataFrame:
    """``gds.shortestPath.yens`` analog → K shortest loopless paths
    (index, total_cost, path) ordered by (cost, path) (paths/yens/Yens.java:42).

    Yen's algorithm is inherently sequential in k (each next path depends on
    all previous); the driver loop mirrors the reference's, but every spur
    computation is a DISTRIBUTED dijkstra on a filtered graph. Spur-set
    sizes are |previous path| per k — the driver holds only the k result
    paths, never the graph."""
    first = dijkstra(graph, source, weighted, max_iterations, targets=[target])
    rows = first.paths.select("total_cost", "node_ids", "costs").collect()
    if not rows:
        return graph.nodes.sparkSession.createDataFrame(
            [], "index long, total_cost double, path string")
    # accepted entries: (total_cost, path node ids, prefix cost per node)
    accepted = [(float(rows[0]["total_cost"]),
                 [int(x) for x in rows[0]["node_ids"]],
                 [float(c) for c in rows[0]["costs"]])]
    candidates: list[tuple[float, list[int], list[float]]] = []

    for _ in range(1, int(k)):
        _, prev_path, prev_prefix = accepted[-1]
        for i in range(len(prev_path) - 1):
            spur = prev_path[i]
            root = prev_path[: i + 1]
            # ban the next edge of every accepted path sharing this root, and
            # every root node except the spur (loopless-ness)
            banned_edges = {
                (p[i], p[i + 1]) for _, p, _ in accepted
                if len(p) > i + 1 and p[: i + 1] == root
            }
            banned_nodes = set(root[:-1])
            e = graph.edges
            for (a, b) in banned_edges:
                e = e.where(~((F.col("src") == a) & (F.col("dst") == b)))
            if banned_nodes:
                e = e.where(~F.col("src").isin(list(banned_nodes))
                            ).where(~F.col("dst").isin(list(banned_nodes)))
            sub = Graph(nodes=graph.nodes, edges=e, directed=graph.directed)
            spur_rows = dijkstra(sub, spur, weighted, max_iterations,
                                 targets=[target]).paths \
                .select("total_cost", "node_ids", "costs").collect()
            if not spur_rows:
                continue
            sp = spur_rows[0]
            root_cost = prev_prefix[i]
            total = root_cost + float(sp["total_cost"])
            path = root[:-1] + [int(x) for x in sp["node_ids"]]
            prefix = prev_prefix[:i] + [root_cost + float(c) for c in sp["costs"]]
            if all(p != path for _, p, _ in accepted) and \
                    all(p != path for _, p, _ in candidates):
                candidates.append((total, path, prefix))
        if not candidates:
            break
        candidates.sort(key=lambda t: (t[0], t[1]))
        accepted.append(candidates.pop(0))

    spark = graph.nodes.sparkSession
    return spark.createDataFrame(
        [(idx, round(c, 6), "->".join(str(n) for n in p))
         for idx, (c, p, _) in enumerate(accepted)],
        "index long, total_cost double, path string")


def dfs(graph: Graph, source: int, max_depth: int | None = None) -> DataFrame:
    """``gds.dfs`` analog → (node_id, visit_order) in preorder, neighbors
    expanded in ASCENDING id order (traversal/DfsStreamComputer via the
    reference's single-threaded walker — DFS order is inherently
    sequential; the reference runs it on one thread too).

    Spark shape: the REACHABLE subgraph (distributed BFS, optionally
    ``max_depth``-bounded — the scale knob) is gathered into one
    ``applyInPandas`` group where the stack walk runs; the driver never
    holds the data. Valid while the reachable subgraph fits one worker —
    the same bound the reference's single heap imposes."""
    import pandas as pd

    spark = graph.nodes.sparkSession
    reach = bfs(graph, source).distances.where(F.col("distance") < F.lit(_INF))
    if max_depth is not None:
        reach = reach.where(F.col("distance") <= float(max_depth))
    ids = reach.select("node_id")
    edges = (
        graph.edges.select("src", "dst")
        .join(ids.withColumnRenamed("node_id", "src"), "src", "left_semi")
        .join(ids.withColumnRenamed("node_id", "dst"), "dst", "left_semi")
    )
    src_id = int(source)
    # guarantee a non-empty group even for an isolated source
    seeded = edges.unionByName(
        spark.createDataFrame([(src_id, src_id)], "src long, dst long"))
    tagged = seeded.select(F.lit(0).alias("_g"), "src", "dst")

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        adj: dict[int, list[int]] = {}
        for s, t in zip(pdf["src"], pdf["dst"]):
            if s != t:
                adj.setdefault(int(s), []).append(int(t))
        for v in adj:
            adj[v].sort(reverse=True)  # stack pops smallest first
        visited, order, stack = set(), [], [src_id]
        while stack:
            v = stack.pop()
            if v in visited:
                continue
            visited.add(v)
            order.append(v)
            stack.extend(adj.get(v, []))
        return pd.DataFrame({"node_id": order,
                             "visit_order": range(len(order))})

    return tagged.groupBy("_g").applyInPandas(
        walk, schema="node_id long, visit_order long")


def dag_levels(graph: Graph, max_iterations: int = 100) -> DataFrame:
    """Longest-path-from-roots level per node → (node_id, level).

    Level 0 = nodes with no in-edges; level(v) = 1 + max(level(u)) over
    in-neighbors. Any sort by (level, node_id) is a valid topological order.
    Diverges (hits max_iterations) on cyclic graphs — the DAG validation the
    reference performs up front.
    """
    spark = graph.nodes.sparkSession
    edges = graph.edges.select("src", "dst").persist()

    state = graph.nodes.select(
        "node_id", F.lit(0).cast("long").alias("level"),
        F.lit(1).cast("int").alias(ACTIVE_COL),
    )

    def step(st: DataFrame, superstep: int) -> DataFrame:
        frontier = shuffle_hash(st.where(F.col(ACTIVE_COL) == 1).select(
            F.col("node_id").alias("_n"), F.col("level").alias("_l")
        ))
        cand = edges.join(frontier, edges.src == F.col("_n"), "inner").select(
            F.col("dst"), (F.col("_l") + 1).alias("_cand")
        ).groupBy("dst").agg(F.max("_cand").alias("_best"))
        joined = st.join(shuffle_hash(cand), st.node_id == cand.dst, "left")
        new_level = F.greatest(F.col("level"), F.coalesce(F.col("_best"), F.col("level")))
        return joined.select(
            st.node_id,
            new_level.alias("level"),
            (new_level > F.col("level")).cast("int").alias(ACTIVE_COL),
        )

    driver = Pregel(spark, max_iterations=max_iterations)
    res = driver.run(state, step)
    edges.unpersist()
    if not res.converged:
        raise ValueError(
            f"dag_levels did not converge in {max_iterations} iterations — graph has a cycle")
    return res.state.select("node_id", "level")


def topological_sort(graph: Graph, max_iterations: int = 100) -> DataFrame:
    """``gds.dag.topologicalSort`` analog → (node_id, topo_rank).

    Reference semantics (dag/topologicalsort/TopologicalSort.java): emit the
    DAG's nodes in a valid dependency order; the reference's order is
    thread-schedule-dependent (its tests assert validity, not an exact
    sequence). This engine pins the CANONICAL valid order — (level, node_id)
    ascending over :func:`dag_levels` — so results are deterministic,
    parallelism-independent, and SQL-oracle-checkable. Raises on cyclic
    input (the reference's DAG validation), inherited from dag_levels.

    Scale shape: the ranking is per-level `row_number` (window PARTITIONED
    by level — no global single-partition sort) plus a broadcast cumulative
    level-offset join; level count is bounded by the longest chain, so the
    offset table is tiny at any corpus size.
    """
    lv = dag_levels(graph, max_iterations)
    within = F.row_number().over(
        Window.partitionBy("level").orderBy("node_id")) - 1
    per_level = lv.groupBy("level").agg(F.count(F.lit(1)).alias("_n"))
    offsets = per_level.select(
        "level",
        (F.sum("_n").over(
            Window.orderBy("level").rowsBetween(Window.unboundedPreceding, -1))
         ).alias("_off")).fillna({"_off": 0})
    return (
        lv.withColumn("_r", within)
        .join(F.broadcast(offsets), "level")
        .select("node_id",
                (F.col("_off") + F.col("_r")).cast("long").alias("topo_rank"))
    )


def dag_longest_path(graph: Graph, weighted: bool = True,
                     max_iterations: int = 100) -> DataFrame:
    """``gds.dag.longestPath`` analog → (node_id, distance, pred).

    Reference semantics (dag/longestPath/DagLongestPath.java via
    dag/topologicalsort/TopologicalSort.java:258: ``potentialDistance =
    longestPathDistances.get(source) + weight`` folded with max): for every
    node, the maximum-total-weight path from any root (node with no
    in-edges); roots have distance 0. Computed as the max-relaxation twin of
    :func:`shortest_paths` — per superstep one frontier ⋈ edges join + one
    partial-aggregated ``max(struct(dist, pred))`` + one state join; on a
    DAG this converges in ≤ longest-chain supersteps. The argmax
    PREDECESSOR (ties → smaller pred id) makes the implied path tree
    deterministic and engine-portable. Raises on cyclic input (the
    reference's topological-sort DAG validation): weights must be
    non-negative (checked upfront), so every cycle has total weight ≥ 0 —
    positive-total cycles keep improving ``dist`` and zero-total cycles
    keep improving the tracked hop count, either way the frontier never
    empties and non-convergence at ``max_iterations`` raises.
    """
    if weighted and not graph.has_weight():
        raise ValueError("weighted dag_longest_path requires edges.weight")
    spark = graph.nodes.sparkSession
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    edges = graph.edges.select(*cols).persist()
    if weighted:
        wmin = edges.agg(F.min("weight")).first()[0]
        if wmin is not None and float(wmin) < 0.0:
            edges.unpersist()
            raise ValueError("dag_longest_path requires non-negative weights")

    state = graph.nodes.select(
        "node_id", F.lit(0.0).alias("dist"),
        F.col("node_id").alias("pred"),
        F.lit(0).cast("long").alias("hops"),
        F.lit(1).cast("int").alias(ACTIVE_COL),
    )
    relax = F.col("_d") + (F.col("weight") if weighted else F.lit(1.0))

    def step(st: DataFrame, superstep: int) -> DataFrame:
        frontier = shuffle_hash(st.where(F.col(ACTIVE_COL) == 1).select(
            F.col("node_id").alias("_n"), F.col("dist").alias("_d"),
            F.col("hops").alias("_hh")))
        cand = (
            edges.join(frontier, edges.src == F.col("_n"), "inner")
            # argmax with deterministic ties: maximize (dist, -pred) so equal
            # distances resolve to the SMALLER predecessor id; the offer's
            # hop count rides along (cycle detection — module docstring)
            .select(F.col("dst"), relax.alias("_cd"), F.col("src").alias("_p"),
                    (F.col("_hh") + 1).alias("_oh"))
            .groupBy("dst")
            .agg(F.max(F.struct(F.col("_cd"), (-F.col("_p")).alias("_np"),
                                F.col("_oh"))).alias("_offer"),
                 F.max("_oh").alias("_maxoh"))
        )
        joined = st.join(shuffle_hash(cand), st.node_id == cand.dst, "left")
        better = F.col("_offer._cd") > F.col("dist")
        # zero-weight cycles never improve dist but DO keep raising the
        # incoming hop count at the same dist — treat that as activity so
        # the loop spins to max_iterations and the cycle check fires
        hops_grew = (F.col("_offer._cd") == F.col("dist")) & (
            F.col("_maxoh") > F.col("hops"))
        return joined.select(
            st.node_id,
            F.when(better, F.col("_offer._cd")).otherwise(F.col("dist")).alias("dist"),
            F.when(better, -F.col("_offer._np")).otherwise(F.col("pred")).alias("pred"),
            F.when(better, F.col("_offer._oh"))
            .when(hops_grew, F.col("_maxoh"))
            .otherwise(F.col("hops")).alias("hops"),
            (F.coalesce(better, F.lit(False))
             | F.coalesce(hops_grew, F.lit(False))).cast("int").alias(ACTIVE_COL),
        )

    driver = Pregel(spark, max_iterations=max_iterations,
                    manifest={"algorithm": "dag_longest_path",
                              "weighted": weighted})
    res = driver.run(state, step)
    edges.unpersist()
    if not res.converged:
        raise ValueError(
            f"dag_longest_path did not converge in {max_iterations} iterations"
            " — graph has a cycle")
    return res.state.select("node_id", "dist", "pred")


@dataclass
class BellmanFordResult:
    distances: DataFrame        # (node_id, distance, pred) — ∞ = unreachable
    negative_cycles: DataFrame  # (cycle_id, node_id); empty when none
    contains_negative_cycle: bool
    ran_iterations: int


def bellman_ford(graph: Graph, source: int, weighted: bool = True,
                 max_iterations: int | None = None) -> BellmanFordResult:
    """``gds.bellmanFord`` analog with the reference's FULL contract —
    negative weights allowed, negative cycles reachable from the source
    detected and streamed (algo/.../paths/bellmanford/BellmanFord.java
    relaxes with negative weights and tracks cycles through predecessor
    chains). :func:`shortest_paths` stays the non-negative fast path
    (frontier relaxation converges in ≤ diameter supersteps); negative
    weights inherently pay the Bellman-Ford worst case of O(V) rounds,
    which is also the reference's bound.

    Distances: frontier relaxation with predecessor tracking — candidate
    per dst is ``min(struct(dist+w, src))``, so pred tie-breaks to the
    smallest source id deterministically. A frontier still live after V
    rounds proves a reachable negative cycle (a shortest simple path has
    ≤ V−1 edges); one still live when ``max_iterations`` < V stopped the
    loop proves nothing and raises ``ValueError``. Recovery is the
    standard pred-graph construction, all set arithmetic:

    - AFFECTED = the live frontier after round V;
    - pointer-doubling over pred (⌈log2 V⌉ self-joins) lands every
      affected node ON a pred-graph cycle (any cycle in the pred graph
      is a negative cycle);
    - pred-closure of the landed set completes each cycle (the pred of a
      cycle node is the previous cycle node);
    - the engine's :func:`~graph_data_science_spark.operators.wcc.wcc`
      over the intra-member pred edges groups members; ``cycle_id`` =
      min member id.

    When a cycle is present, ``distances`` holds the (non-final) round-V
    tentative values — like the reference, routes are not meaningful in
    that case and callers should read ``negative_cycles``.
    """
    import math as _math

    if weighted and not graph.has_weight():
        raise ValueError("weighted bellman_ford requires edges.weight")
    spark = graph.nodes.sparkSession
    n = graph.node_count()
    rounds = min(int(max_iterations), n) if max_iterations is not None else n
    scratch = Scratch(spark)
    try:
        w = F.col("weight").cast("double") if weighted else F.lit(1.0)
        edges = scratch.truncate(
            graph.edges.select("src", "dst", w.alias("w")), "edges")
        state = graph.nodes.select(
            "node_id",
            F.when(F.col("node_id") == int(source), F.lit(0.0))
            .otherwise(F.lit(_INF)).alias("dist"),
            F.lit(None).cast("long").alias("pred"),
            (F.col("node_id") == int(source)).cast("int").alias("_chg"))
        state = scratch.truncate(state, "state")
        live, ran = 1, 0
        while ran < rounds and live:
            fr = state.where(F.col("_chg") == 1).select(
                F.col("node_id").alias("src"), F.col("dist").alias("_d"))
            cand = (edges.join(shuffle_hash(fr), "src")
                    .groupBy("dst")
                    .agg(F.min(F.struct(
                        (F.col("_d") + F.col("w")).alias("d"),
                        F.col("src").alias("p"))).alias("_c")))
            st = state.join(shuffle_hash(cand),
                            state.node_id == cand.dst, "left")
            better = F.col("_c.d") < F.col("dist")
            state = st.select(
                state.node_id,
                F.when(better, F.col("_c.d")).otherwise(F.col("dist"))
                .alias("dist"),
                F.when(better, F.col("_c.p")).otherwise(F.col("pred"))
                .alias("pred"),
                F.coalesce(better.cast("int"), F.lit(0)).alias("_chg"))
            obs = Observation()
            state = scratch.truncate(
                state.observe(obs, F.sum("_chg").alias("live")), "state")
            live = int(obs.get["live"] or 0)
            ran += 1
        distances = state.select(
            "node_id", F.col("dist").alias("distance"), "pred")
        if not live:
            empty = spark.createDataFrame([], "cycle_id long, node_id long")
            return BellmanFordResult(
                distances.localCheckpoint(eager=True), empty, False, ran)
        if ran < n:
            # a live frontier proves a cycle only after all n rounds
            raise ValueError(
                f"bellman_ford did not converge in {ran} iterations "
                f"(max_iterations < node count {n})")

        preds = state.where(F.col("pred").isNotNull()) \
            .select("node_id", "pred")
        preds = scratch.truncate(preds, "preds")
        jump = preds.select("node_id", F.col("pred").alias("anc"))
        for _ in range(max(1, _math.ceil(_math.log2(max(2, n))))):
            j2 = jump.select(F.col("node_id").alias("anc"),
                             F.col("anc").alias("_a2"))
            jump = (jump.join(j2, "anc", "left")
                    .select("node_id", F.col("_a2").alias("anc")))
            jump = scratch.truncate(jump, "jump")
        affected = state.where(F.col("_chg") == 1).select("node_id")
        landed = (affected.join(jump, "node_id")
                  .where(F.col("anc").isNotNull())
                  .select(F.col("anc").alias("node_id")).distinct())
        members = scratch.truncate(landed, "members")
        for _ in range(n):
            grow = (members.join(preds, "node_id")
                    .select(F.col("pred").alias("node_id")).distinct()
                    .join(members, "node_id", "left_anti"))
            grow = scratch.truncate(grow, "grow")
            if scratch.rows("grow") == 0:
                break
            members = scratch.truncate(members.unionByName(grow), "members")
        ce = (preds.join(members, "node_id", "left_semi")
              .join(members.select(F.col("node_id").alias("pred")),
                    "pred", "left_semi"))
        # members form disjoint cycles of at most n nodes: n supersteps
        # always converge
        grouped = wcc(Graph(nodes=members, edges=ce.select(
            F.col("node_id").alias("src"), F.col("pred").alias("dst"))),
            max_iterations=n)
        cycles = grouped.components.select(
            F.col("component").alias("cycle_id"), "node_id")
        return BellmanFordResult(
            distances.localCheckpoint(eager=True), cycles, True, ran)
    finally:
        scratch.cleanup()
