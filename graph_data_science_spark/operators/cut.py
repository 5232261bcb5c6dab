"""Approximate maximum k-cut — deterministic local moving.

Reference analog: ``gds.maxkcut`` — algo/src/main/java/org/neo4j/gds/
approxmaxkcut/ApproxMaxKCut.java (randomized local search, VNS variant).
The reference's random restarts are concurrency/seed dependent; this engine
uses the same deterministic class-restricted synchronous move schedule as
operators/louvain.py: nodes start in part ``node_id % k`` and, class by
class, move to the part minimizing their weighted internal degree
``k_{v,P}`` (equivalently maximizing their contribution to the cut), ties →
smaller part id, strict improvement only. A pass with no moves converges;
the fixed recurrence is unrolled in the DuckDB oracle.

Output: (node_id, community) part assignment + the achieved cut weight.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.operators.louvain import _adjacency
from graph_data_science_spark.plans.loop_state import Scratch
from graph_data_science_spark.plans.partitioning import shuffle_hash


@dataclass
class MaxKCutResult:
    assignment: DataFrame  # (node_id, community)
    cut_weight: float
    ran_iterations: int
    converged: bool


def maxkcut(
    graph: Graph,
    k: int = 2,
    max_iterations: int = 8,
    n_classes: int = 2,
    weighted: bool = True,
) -> MaxKCutResult:
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        adj = scratch.truncate(_adjacency(graph, weighted), "adj")
        nodes = graph.nodes.select("node_id")
        part = nodes.select(
            "node_id", F.pmod(F.col("node_id"), F.lit(int(k))).alias("part"))
        part = scratch.truncate(part, "part")
        parts_df = spark.range(int(k)).select(F.col("id").alias("cand"))

        it = 0
        converged = False
        for it in range(1, int(max_iterations) + 1):
            iter_moves = 0
            for p in range(int(n_classes)):
                movers = part.where(F.pmod(F.col("node_id"), F.lit(n_classes)) == p)
                p_of = shuffle_hash(part.select(F.col("node_id").alias("dst"),
                                                F.col("part").alias("P")))
                kvp = (adj.where(F.col("src") != F.col("dst"))
                       .where(F.pmod(F.col("src"), F.lit(n_classes)) == p)
                       .join(p_of, "dst")
                       .groupBy("src", "P").agg(F.sum("w").alias("kvp")))
                # every part is a candidate; absent parts have k_{v,P} = 0
                cand = (movers.select(F.col("node_id").alias("src"),
                                      F.col("part").alias("cur"))
                        .crossJoin(F.broadcast(parts_df))
                        .join(kvp.withColumnRenamed("P", "cand"),
                              ["src", "cand"], "left")
                        .withColumn("kvp", F.round(
                            F.coalesce("kvp", F.lit(0.0)), 6)))
                best = cand.groupBy("src", "cur").agg(
                    F.min(F.struct(F.col("kvp"), F.col("cand"))).alias("_b"),
                    F.min(F.when(F.col("cand") == F.col("cur"),
                                 F.col("kvp"))).alias("cur_k"))
                upd = best.select(
                    F.col("src").alias("node_id"),
                    F.when(F.col("_b.kvp") < F.col("cur_k"), F.col("_b.cand"))
                    .otherwise(F.col("cur")).alias("_new"))
                merged = part.join(shuffle_hash(upd), "node_id", "left").select(
                    "node_id",
                    F.coalesce("_new", F.col("part")).alias("part"),
                    (F.coalesce("_new", F.col("part")) != F.col("part"))
                    .cast("int").alias("_mv"))
                merged = scratch.truncate(merged, "part")
                iter_moves += int(merged.agg(F.sum("_mv")).first()[0] or 0)
                part = merged.select("node_id", "part")
            if iter_moves == 0:
                converged = True
                break
        # cut weight = total weight across parts (row-sum convention: /2)
        pu = part.select(F.col("node_id").alias("src"), F.col("part").alias("ps"))
        pv = part.select(F.col("node_id").alias("dst"), F.col("part").alias("pd"))
        cut = (adj.join(pu, "src").join(pv, "dst")
               .where(F.col("ps") != F.col("pd"))
               .agg(F.sum("w")).first()[0] or 0.0) / 2.0
        out = part.select("node_id", F.col("part").alias("community")) \
            .localCheckpoint(eager=True)
        return MaxKCutResult(out, float(cut), it, converged)
    finally:
        scratch.cleanup()
