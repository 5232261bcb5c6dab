"""Influence maximization — greedy over Monte-Carlo IC cascades (CELF).

Reference analog: ``gds.influenceMaximization.celf`` — algo/src/main/java/
org/neo4j/gds/influenceMaximization/CELF.java (Leskovec et al. CELF;
independent-cascade model, Monte-Carlo spread estimates, greedy seed
selection with a lazy-evaluation queue).

CELF's lazy queue is a driver-side evaluation-order optimization; its
OUTPUT equals plain greedy. This engine computes exact greedy over the same
deterministic cascade ensemble, using a property the lazy queue doesn't
need but distribution loves: under IC, reach is a UNION —
``reach(S ∪ {c}) = reach(S) ∪ reach({c})`` on each sampled live-edge graph.
So per-candidate single-source reach sets are computed ONCE in one batched
multi-lane BFS (lane = (candidate, simulation)), and every greedy round is
pure set arithmetic: marginal gain = |R(c) \\ covered|, one anti-join +
count per round.

Determinism: edge liveness is ``u01(src, dst, sim, seed) < p`` with the
md5-portable hash (embeddings._u01) — no RNG state, same cascades on any
engine, which is what makes the DuckDB oracle possible. Candidates = the
``candidate_pool`` highest-out-degree nodes (ties → smaller id) — the same
degree heuristic the reference seeds its queue with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.operators.embeddings import _u01
from graph_data_science_spark.plans.loop_state import Scratch


def influence_maximization_celf(
    graph: Graph,
    k: int = 3,
    propagation_probability: float = 0.2,
    monte_carlo_simulations: int = 4,
    candidate_pool: int = 10,
    seed: int = 42,
    max_hops: int = 10,
) -> DataFrame:
    """Greedy IC seed set → (rank, node_id, spread); spread = expected
    activated count (avg over simulations) of the seed set up to this rank,
    rounded 6dp."""
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        edges = graph.edges.select("src", "dst").distinct()
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # distributed top-k (TakeOrderedAndProject), not a global window —
        # a single-partition window sort is the thing to avoid at scale
        cands = (deg.orderBy(F.desc("deg"), F.asc("src"))
                 .limit(int(candidate_pool))
                 .select(F.col("src").alias("cand")))
        cands = scratch.truncate(cands, "cands")

        sims = spark.range(int(monte_carlo_simulations)).select(
            F.col("id").cast("long").alias("sim"))
        live = (edges.crossJoin(F.broadcast(sims))
                .where(_u01(F.col("src"), F.col("dst"), F.col("sim"),
                            F.lit(int(seed)))
                       < float(propagation_probability))
                .select("sim", "src", "dst"))
        live = scratch.truncate(live, "live")

        # batched reach: lanes (cand, sim); R(c) includes c itself
        reach = cands.crossJoin(F.broadcast(sims)).select(
            "cand", "sim", F.col("cand").alias("node_id"))
        reach = scratch.truncate(reach, "reach")
        frontier = reach
        for _ in range(int(max_hops)):
            nxt = (live.join(frontier.select("cand", "sim",
                                             F.col("node_id").alias("src")),
                             ["sim", "src"])
                   .select("cand", "sim", F.col("dst").alias("node_id"))
                   .distinct()
                   .join(reach, ["cand", "sim", "node_id"], "left_anti"))
            nxt = scratch.truncate(nxt, "frontier")
            if scratch.rows("frontier") == 0:  # count rode truncate
                break
            reach = scratch.truncate(reach.unionByName(nxt), "reach")
            frontier = nxt

        n_sims = float(monte_carlo_simulations)
        chosen: list[tuple[int, int, float]] = []  # (rank, node, spread)
        covered = None  # (sim, node_id) rows activated by the chosen set
        for rank in range(int(k)):
            if covered is None:
                gains = reach.groupBy("cand").agg(
                    F.count(F.lit(1)).alias("g"))
            else:
                fresh = reach.join(covered, ["sim", "node_id"], "left_anti")
                gains = (cands.join(
                    fresh.groupBy("cand").agg(F.count(F.lit(1)).alias("g")),
                    "cand", "left").select(
                    "cand", F.coalesce("g", F.lit(0)).alias("g")))
            # distributed argmax: anti-join the (≤k-row, broadcast) taken
            # set, then TakeOrderedAndProject — ONE row reaches the driver
            # per round, where a gains.collect() was one row per candidate
            # (n-row driver collect × k rounds at a 10^8-node pool).
            # Same deterministic tie-break as the old driver-side min:
            # highest gain, then smallest candidate id.
            if chosen:
                taken_df = spark.createDataFrame(
                    [(int(c),) for _, c, _ in chosen], "cand long")
                gains = gains.join(F.broadcast(taken_df), "cand", "left_anti")
            rows = gains.orderBy(F.desc("g"), F.asc("cand")).limit(1).collect()
            if not rows:
                break
            best = rows[0]
            new_cov = reach.where(F.col("cand") == int(best["cand"])) \
                .select("sim", "node_id")
            # a lane's reach rows are distinct, so only the new seed's rows
            # not yet covered need deduplicating — never the whole union
            if covered is not None:
                new_cov = covered.unionByName(new_cov.join(
                    covered, ["sim", "node_id"], "left_anti"))
            covered = scratch.truncate(new_cov, "covered")
            spread = scratch.rows("covered") / n_sims  # count rode truncate
            chosen.append((rank, int(best["cand"]), round(spread, 6)))
        return spark.createDataFrame(
            chosen, "rank long, node_id long, spread double"
        ).localCheckpoint(eager=True)
    finally:
        scratch.cleanup()
