"""HITS (hubs & authorities) — ``gds.hits`` analog (alpha tier).

Reference: algo/src/main/java/org/neo4j/gds/hits/Hits.java (a
@PregelProcedure over the bidirectional graph): per iteration

    auth(v) = Σ hub(u) over in-neighbors u;  then L2-normalize auths
    hub(v)  = Σ auth(w) over out-neighbors w; then L2-normalize hubs

(hitsIterations iterations; the reference counts 4 supersteps per HITS
iteration in its Pregel encoding). Two shuffle join+agg passes per
iteration here — the same kernel as PageRank with REVERSE then NATURAL
orientation, plus a global L2 norm (one tiny agg each, kept lazy: the
norm rides a broadcast crossJoin so the iteration stays ONE job).

State truncation is the parquet-scratch pattern (docs/SCALE_NOTES.md §2):
chained ``localCheckpoint`` accumulates planning cost ~linearly in the
chain length on this Spark build — measured here 56 s → 23 s at sf0.01
for the 20-iteration loop when the chain was replaced with alternating
parquet slots (one truncation per iteration; the auth-phase norm branch
re-reads the flat scan, deduped by ReuseExchange).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.plans.loop_state import Scratch
from graph_data_science_spark.plans.partitioning import shuffle_hash


@dataclass
class HitsResult:
    scores: DataFrame  # (node_id, hub, auth)
    ran_iterations: int


def hits(graph: Graph, hits_iterations: int = 20) -> HitsResult:
    """Returns (node_id, hub, auth), both L2-normalized per iteration."""
    spark = graph.nodes.sparkSession
    edges = graph.edges.select("src", "dst").persist()
    scratch = Scratch(spark)

    state = scratch.truncate(
        graph.nodes.select(
            "node_id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")),
        "state")

    def _norm(df: DataFrame, col: str) -> DataFrame:
        norm = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n"))
        return df.crossJoin(F.broadcast(norm)).select(
            *[c for c in df.columns if c != col],
            F.when(F.col("_n") > 0, F.col(col) / F.col("_n"))
            .otherwise(F.lit(0.0)).alias(col),
        )

    for _ in range(hits_iterations):
        hubs = shuffle_hash(state.select(F.col("node_id").alias("_u"), F.col("hub").alias("_h")))
        auth_msgs = (
            edges.join(hubs, edges.src == F.col("_u"), "inner")
            .groupBy("dst").agg(F.sum("_h").alias("_auth"))
        )
        state = state.join(shuffle_hash(auth_msgs), state.node_id == auth_msgs.dst, "left").select(
            state.node_id, state.hub,
            F.coalesce(F.col("_auth"), F.lit(0.0)).alias("auth"),
        )
        state = _norm(state, "auth")

        auths = shuffle_hash(state.select(F.col("node_id").alias("_w"), F.col("auth").alias("_a")))
        hub_msgs = (
            edges.join(auths, edges.dst == F.col("_w"), "inner")
            .groupBy("src").agg(F.sum("_a").alias("_hub"))
        )
        state = state.join(shuffle_hash(hub_msgs), state.node_id == hub_msgs.src, "left").select(
            state.node_id,
            F.coalesce(F.col("_hub"), F.lit(0.0)).alias("hub"),
            state.auth,
        )
        state = _norm(state, "hub")
        state = scratch.truncate(state, "state")

    out = state.select("node_id", "hub", "auth").localCheckpoint(eager=True)
    edges.unpersist()
    scratch.cleanup()
    return HitsResult(out, hits_iterations)
