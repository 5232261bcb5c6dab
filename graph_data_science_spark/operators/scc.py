"""Strongly connected components — trim + forward-coloring + backward sweep.

Reference analog: ``gds.scc`` — algo/src/main/java/org/neo4j/gds/scc/Scc.java:34
(sequential Tarjan). Tarjan's stack discipline is inherently sequential; the
distributed re-expression is the Multistep/FB-Trim family (Slota-Rajamanickam-
Madduri "BFS and Coloring-based Parallel Algorithms for Strongly Connected
Components", IPDPS'14), all bulk-synchronous min/max label propagations:

Per outer round, on the still-unassigned ("alive") subgraph:
1. **Trim** to fixpoint: a node whose in-degree or out-degree within the
   alive subgraph is 0 is its own singleton SCC (component = its id) —
   removes the DAG-ish bulk in rounds ≈ #graph layers.
2. **Color**: C(v) = max(v, C(u) for alive u→v) to fixpoint — every node is
   tagged by the largest id that can reach it.
3. **Backward sweep within color**: from each color root r (C(r) = r),
   propagate along REVERSED alive edges restricted to nodes of the same
   color; every reached node is in SCC(r) (mutual reachability: r reaches v
   forward by construction of C, v reaches r backward by the sweep).
4. Assign & remove those SCCs; repeat until alive is empty.

Every phase is a deterministic synchronous fixpoint, so the whole algorithm
is expressible as an unrolled SQL recurrence (the DuckDB oracle) and
post-convergence rounds are idempotent. Final component ids are relabeled
to the MINIMUM member node id (stable, engine-portable).

Spark plan: each fixpoint round is one edges ⋈ labels shuffle join + one
partial-agg min/max + one join back; alive-subgraph restriction is two
semi-joins folded into the persisted per-round edge snapshot. State is
truncated per round via parquet scratch snapshots (plans/pregel doc #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.plans.loop_state import Scratch
from graph_data_science_spark.plans.partitioning import shuffle_hash


def _fixpoint_label(edges: DataFrame, nodes: DataFrame, scratch: Scratch,
                    stream: str, max_rounds: int) -> DataFrame:
    """Forward max-colouring to fixpoint (phase 2 of the module doc): every
    node's label becomes the largest id that reaches it along ``edges``, one
    hop per round, at most ``max_rounds`` rounds. Returns (node_id, lab)."""
    lab = nodes.select("node_id", F.col("node_id").alias("lab"))
    lab = scratch.truncate(lab, stream)
    for _ in range(max_rounds):
        sender = lab.select(F.col("node_id").alias("src"), F.col("lab").alias("_l"))
        msgs = (edges.join(shuffle_hash(sender), "src")
                .groupBy(F.col("dst").alias("node_id")).agg(F.max("_l").alias("_m")))
        new_lab = F.greatest(F.col("lab"), F.coalesce(F.col("_m"), F.col("lab")))
        new = lab.join(msgs, "node_id", "left").select(
            "node_id", new_lab.alias("lab"),
            (new_lab != F.col("lab")).cast("int").alias("_ch"),
        )
        obs = Observation()
        new = new.observe(obs, F.sum("_ch").alias("ch"))
        new = scratch.truncate(new, stream)
        changed = obs.get["ch"] or 0
        lab = new.select("node_id", "lab")
        if changed == 0:
            break
    return lab


def _sweep_reach(edges: DataFrame, colored: DataFrame, scratch: Scratch,
                 max_rounds: int) -> DataFrame:
    """Backward reachability from each color root within its color class.
    ``colored`` = (node_id, color). Returns reached (node_id, color) rows."""
    roots = colored.where(F.col("node_id") == F.col("color"))
    reached = scratch.truncate(roots, "reach")
    frontier = reached
    # restrict edges to same-color pairs once per outer round
    ce = (edges
          .join(colored.select(F.col("node_id").alias("src"),
                               F.col("color").alias("_cs")), "src")
          .join(colored.select(F.col("node_id").alias("dst"),
                               F.col("color").alias("_cd")), "dst")
          .where(F.col("_cs") == F.col("_cd"))
          .select("src", "dst", F.col("_cs").alias("color")))
    ce = scratch.truncate(ce, "ce")
    for _ in range(max_rounds):
        # walk REVERSED: from reached dst back to src (v reaches root)
        cand = (ce.join(shuffle_hash(frontier.select(
            F.col("node_id").alias("dst"), F.col("color").alias("_fc"))),
            "dst")
            .where(F.col("color") == F.col("_fc"))
            .select(F.col("src").alias("node_id"), "color").distinct())
        new = cand.join(reached, ["node_id", "color"], "left_anti")
        new = scratch.truncate(new, "reachf")
        if scratch.rows("reachf") == 0:  # count rode the truncate
            break
        reached = scratch.truncate(reached.unionByName(new), "reach")
        frontier = new
    return reached


def scc(graph: Graph, max_outer: int = 30, max_label_rounds: int = 60,
        max_trim_rounds: int = 60) -> DataFrame:
    """``gds.scc`` analog → (node_id, component), component = min member id."""
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        edges = graph.edges.select("src", "dst") \
            .where(F.col("src") != F.col("dst")).distinct()
        edges = scratch.truncate(edges, "edges")
        alive = graph.nodes.select("node_id")
        alive = scratch.truncate(alive, "alive")
        assigned = None  # (node_id, component-root)

        for _ in range(max_outer):
            # ---- trim to fixpoint -------------------------------------------
            for _ in range(max_trim_rounds):
                e = (edges
                     .join(alive.withColumnRenamed("node_id", "src"), "src", "left_semi")
                     .join(alive.withColumnRenamed("node_id", "dst"), "dst", "left_semi"))
                outd = e.select(F.col("src").alias("node_id")).distinct()
                ind = e.select(F.col("dst").alias("node_id")).distinct()
                keep = alive.join(outd, "node_id", "left_semi") \
                    .join(ind, "node_id", "left_semi")
                keep = scratch.truncate(keep, "keep")
                trimmed = alive.join(keep, "node_id", "left_anti") \
                    .select("node_id", F.col("node_id").alias("component"))
                trimmed = scratch.truncate(trimmed, "trimmed")
                if scratch.rows("trimmed") == 0:
                    break
                assigned = trimmed if assigned is None else \
                    assigned.unionByName(trimmed)
                assigned = scratch.truncate(assigned, "assigned")
                alive = keep
            if not scratch.rows("keep"):  # alive IS last "keep"
                break
            ae = (edges
                  .join(alive.withColumnRenamed("node_id", "src"), "src", "left_semi")
                  .join(alive.withColumnRenamed("node_id", "dst"), "dst", "left_semi"))
            ae = scratch.truncate(ae, "ae")
            # ---- color (forward max) + backward sweep -----------------------
            colors = _fixpoint_label(ae, alive, scratch, "color",
                                     max_label_rounds)
            colored = colors.select("node_id", F.col("lab").alias("color"))
            reached = _sweep_reach(ae, colored, scratch, max_label_rounds)
            found = reached.select("node_id", F.col("color").alias("component"))
            found = scratch.truncate(found, "found")
            assigned = found if assigned is None else assigned.unionByName(found)
            assigned = scratch.truncate(assigned, "assigned")
            alive = scratch.truncate(
                alive.join(found.select("node_id"), "node_id", "left_anti"),
                "alive")

        if assigned is None:
            # empty node set (or zero outer rounds): nothing to relabel
            return spark.createDataFrame([], "node_id long, component long")
        leftover = alive.count()
        if leftover:
            # silently dropping unresolved nodes would hand the caller a
            # partial component map — fail loudly like dag_levels does
            raise ValueError(
                f"scc did not resolve {leftover} nodes in {max_outer} "
                "outer rounds — raise max_outer")
        # relabel to min member id — stable and portable
        lab = assigned.groupBy("component").agg(F.min("node_id").alias("_new"))
        out = assigned.join(lab, "component").select(
            "node_id", F.col("_new").alias("component"))
        return out.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()
