"""Minimum spanning tree / forest — distributed Borůvka.

Reference analog: ``gds.spanningTree`` / ``gds.spanningTree.kmax`` —
algo/src/main/java/org/neo4j/gds/spanningtree/Prim.java:42. Prim's heap is
sequential; the distributed classic is Borůvka: every component picks its
minimum outgoing edge, picked edges merge components, repeat — O(log n)
rounds, each one shuffle join + two partial aggs. Edge weights are
uniquified by the tie-break ``(weight, src, dst)`` so the MST is UNIQUE and
the result deterministic/engine-portable (the reference's Prim with a fixed
start yields the same tree under unique weights).

``gds.kSpanningTree`` analog: cut the k−1 heaviest tree edges of the start
component's MST (``k_spanning_tree``) — the reference's post-processing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.plans.loop_state import Scratch


def spanning_forest(graph: Graph, max_rounds: int = 30) -> DataFrame:
    """Minimum spanning forest of the undirected weighted graph →
    (src, dst, weight) with src < dst, one tree per component."""
    if not graph.has_weight():
        raise ValueError("spanning tree requires edges.weight")
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        canon = (graph.edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"), "weight")
            .where(F.col("src") != F.col("dst"))
            .groupBy("src", "dst").agg(F.min("weight").alias("weight")))
        mirrored = canon.unionByName(canon.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"))
        mirrored = scratch.truncate(mirrored, "edges")

        comp = graph.nodes.select("node_id", F.col("node_id").alias("comp"))
        comp = scratch.truncate(comp, "comp")
        mst = None
        for _ in range(int(max_rounds)):
            cu = comp.select(F.col("node_id").alias("src"), F.col("comp").alias("_cs"))
            cv = comp.select(F.col("node_id").alias("dst"), F.col("comp").alias("_cd"))
            cross = (mirrored.join(cu, "src").join(cv, "dst")
                     .where(F.col("_cs") != F.col("_cd")))
            picked = (cross.groupBy("_cs")
                      .agg(F.min(F.struct(
                          "weight",
                          F.least("src", "dst").alias("a"),
                          F.greatest("src", "dst").alias("b"))).alias("_e"))
                      .select(F.col("_e.a").alias("src"), F.col("_e.b").alias("dst"),
                              F.col("_e.weight").alias("weight"))
                      .distinct())
            picked = scratch.truncate(picked, "picked")
            if scratch.rows("picked") == 0:  # count rode truncate
                break
            mst = picked if mst is None else mst.unionByName(picked).distinct()
            mst = scratch.truncate(mst, "mst")
            # merge components: min-label propagation over picked edges
            # pointer-jumping, not wcc: a picked path over n comps needs ~log n rounds, not n
            pe = picked.select("src", "dst").unionByName(
                picked.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            pe = scratch.truncate(pe, "pe")
            for _ in range(int(max_rounds)):
                cl = comp.select(F.col("node_id").alias("src"),
                                 F.col("comp").alias("_l"))
                msgs = pe.join(cl, "src").groupBy(F.col("dst").alias("node_id")) \
                    .agg(F.min("_l").alias("_m"))
                # propagate through comp labels too (pointer-jump): a node's
                # label may itself have a smaller label now
                lab_of = comp.select(F.col("node_id").alias("comp"),
                                     F.col("comp").alias("_pl"))
                new = (comp.join(msgs, "node_id", "left")
                       .join(lab_of, "comp", "left")
                       .select("node_id",
                               F.least(F.col("comp"),
                                       F.least(F.coalesce("_m", F.col("comp")),
                                               F.coalesce("_pl", F.col("comp"))))
                               .alias("comp"),
                               (F.least(F.col("comp"),
                                        F.least(F.coalesce("_m", F.col("comp")),
                                                F.coalesce("_pl", F.col("comp"))))
                                < F.col("comp")).cast("int").alias("_ch")))
                from pyspark.sql import Observation
                obs = Observation()
                new = new.observe(obs, F.sum("_ch").alias("ch"))
                new = scratch.truncate(new, "comp")
                ch = obs.get["ch"] or 0
                comp = new.select("node_id", "comp")
                if ch == 0:
                    break
        if mst is None:
            return spark.createDataFrame([], "src long, dst long, weight double")
        return mst.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()


def spanning_tree(graph: Graph, start_node: int, max_rounds: int = 30) -> DataFrame:
    """``gds.spanningTree`` analog: the MST edges of the component
    containing ``start_node`` → (src, dst, weight), src < dst."""
    forest = spanning_forest(graph, max_rounds)
    # component membership via the forest itself: nodes connected to start
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        pe = forest.select("src", "dst").unionByName(
            forest.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        pe = scratch.truncate(pe, "pe")
        seen = spark.createDataFrame([(int(start_node),)], "node_id long")
        seen = scratch.truncate(seen, "seen")
        frontier = seen
        for _ in range(10 ** 6):
            nxt = pe.join(frontier.withColumnRenamed("node_id", "src"),
                          "src", "left_semi") \
                .select(F.col("dst").alias("node_id")).distinct() \
                .join(seen, "node_id", "left_anti")
            nxt = scratch.truncate(nxt, "frontier")
            if scratch.rows("frontier") == 0:  # count rode truncate
                break
            seen = scratch.truncate(seen.unionByName(nxt), "seen")
            frontier = nxt
        out = forest.join(seen.withColumnRenamed("node_id", "src"),
                          "src", "left_semi")
        return out.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()


def steiner_tree(graph: Graph, source: int, targets: list[int],
                 weighted: bool = True) -> DataFrame:
    """``gds.steinerTree`` analog (approximate) → tree edge rows
    (src, dst, weight) connecting ``source`` to every reachable target.

    The reference's shortest-path heuristic (steiner/ShortestPathsSteiner*):
    grow the tree by repeatedly attaching the nearest still-unconnected
    terminal via its shortest path — a 2-approximation. Each attachment is
    one DISTRIBUTED multi-target dijkstra from the source set; the driver
    loop runs ≤ |targets| rounds holding only the chosen paths."""
    from graph_data_science_spark.operators.paths import dijkstra

    spark = graph.nodes.sparkSession
    remaining = {int(t) for t in targets if int(t) != int(source)}
    tree_nodes = {int(source)}
    tree_edges: list[tuple[int, int, float]] = []
    while remaining:
        # one dijkstra from the current tree (virtual super-source = run from
        # source; distances to tree nodes are 0-extended by seeding targets):
        # approximate by running from the ORIGINAL source each round like the
        # reference's path-wise variant, attaching the closest remaining
        # target's whole path
        res = dijkstra(graph, int(source), weighted=weighted,
                       targets=sorted(remaining))
        rows = res.paths.orderBy("total_cost", "target_node").collect()
        if not rows:
            break
        best = rows[0]
        path = [int(x) for x in best["node_ids"]]
        costs = [float(c) for c in best["costs"]]
        for (u, v, cu, cv) in zip(path, path[1:], costs, costs[1:]):
            if v not in tree_nodes:
                tree_edges.append((u, v, round(cv - cu, 6)))
                tree_nodes.add(v)
        remaining.discard(int(best["target_node"]))
        remaining -= tree_nodes
    if not tree_edges:
        return spark.createDataFrame([], "src long, dst long, weight double")
    return spark.createDataFrame(tree_edges, "src long, dst long, weight double")


def k_spanning_tree(graph: Graph, start_node: int, k: int,
                    max_rounds: int = 30) -> DataFrame:
    """``gds.kSpanningTree`` analog: remove the k−1 heaviest edges of the
    start component's MST, yielding k sub-trees → surviving edges."""
    tree = spanning_tree(graph, start_node, max_rounds)
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("weight"), F.desc("src"), F.desc("dst"))
    ranked = tree.withColumn("_r", F.row_number().over(w))
    return ranked.where(F.col("_r") >= int(k)).drop("_r")
