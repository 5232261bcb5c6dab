"""K-means over property vectors + K1 greedy graph coloring.

Reference analogs (algo/src/main/java/org/neo4j/gds/):
- ``gds.kmeans`` — kmeans/Kmeans.java:40. The reference seeds centroids
  with a seeded RNG (or kmeans++); this engine uses a DETERMINISTIC seed —
  the k lowest-id vectors, cluster index by id rank — so results are
  reproducible at any parallelism and SQL-oracle-checkable. Lloyd
  iterations are otherwise standard: assign to nearest centroid (squared
  L2, ROUND 6dp, ties → smaller cluster id), recompute means (ROUND 6dp —
  the per-iteration rounding is the cross-engine float contract).
- ``gds.k1coloring`` — k1coloring/K1Coloring.java:63: iterative greedy —
  color everything 0, then repeatedly let each CONFLICTED node whose id is
  larger than a conflicting neighbor's pick the smallest color absent from
  its neighborhood (previous round's colors). Converges to a proper
  coloring; the fixed conflict/winner rule makes the recurrence
  deterministic and unrollable, unlike the reference's thread-schedule-
  dependent colors (its own tests assert validity, not exact colors).

Spark plans: kmeans keeps vectors in long format (id, dim, value); one
broadcast join against the k×dim centroid table + two partial aggs per
iteration. k1coloring is one conflict semi-join + one sequence-explode
anti-join per round — the explode is bounded by each loser's degree + 1
(some color in 0..deg(v) is always free).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.plans.loop_state import Scratch


@dataclass
class KmeansResult:
    assignment: DataFrame  # (id, cluster)
    centroids: DataFrame   # (cluster, dim, value)
    ran_iterations: int


def kmeans(
    vecs: DataFrame,
    k: int = 4,
    max_iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    init: str = "sample",
) -> KmeansResult:
    """Deterministic Lloyd k-means → (id, cluster), cluster ∈ 0..k-1.

    ``init="sample"`` (default): centroid seeds are the k vectors with the
    smallest hash-u01(id, seed) — a deterministic uniform sample of the id
    space (the reproducible stand-in for the reference's seeded RNG init,
    kmeans/Kmeans.java:40), immune to the sorted-data pathology of
    first-k-by-id. ``init="first"`` keeps the legacy lowest-id seeding.
    Both are portable to the SQL oracle (md5-based u01)."""
    from graph_data_science_spark.operators.embeddings import _u01

    spark = vecs.sparkSession
    scratch = Scratch(spark)
    try:
        pts = vecs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "val"))
        pts = scratch.truncate(pts, "pts")

        if init == "sample":
            order = [_u01(F.col("id"), F.lit("kmseed"), F.lit(int(seed))), F.col("id")]
        elif init == "first":
            order = [F.col("id")]
        else:
            raise ValueError(f"unknown init {init!r}")
        w = Window.orderBy(*order)
        seeds = (vecs.select(F.col(id_col).alias("id")).orderBy(*order).limit(int(k))
                 .withColumn("cluster", F.row_number().over(w) - 1))
        cents = pts.join(seeds, "id").select(
            "cluster", "dim", F.round("val", 6).alias("cval"))
        cents = scratch.truncate(cents, "cents")

        assign = None
        for it in range(1, int(max_iterations) + 1):
            dists = (pts.join(F.broadcast(cents), "dim")
                     .groupBy("id", "cluster")
                     .agg(F.round(F.sum((F.col("val") - F.col("cval"))
                                        * (F.col("val") - F.col("cval"))), 6)
                          .alias("d")))
            assign = dists.groupBy("id").agg(
                F.min(F.struct("d", "cluster")).alias("_b")
            ).select("id", F.col("_b.cluster").alias("cluster"))
            assign = scratch.truncate(assign, "assign")
            cents = (pts.join(assign, "id")
                     .groupBy("cluster", "dim")
                     .agg(F.round(F.avg("val"), 6).alias("cval")))
            cents = scratch.truncate(cents, "cents")
        out = assign.localCheckpoint(eager=True)
        return KmeansResult(out, cents.localCheckpoint(eager=True),
                            int(max_iterations))
    finally:
        scratch.cleanup()


def k1coloring(graph: Graph, max_rounds: int = 50) -> DataFrame:
    """``gds.k1coloring`` analog → (node_id, color), a proper coloring of
    the undirected simple graph (deterministic recurrence — module doc)."""
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        e = graph.canonical_undirected_edges()
        edges = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        edges = scratch.truncate(edges, "edges")
        deg = edges.groupBy(F.col("src").alias("node_id")).agg(
            F.count(F.lit(1)).alias("deg"))
        deg = scratch.truncate(deg, "deg")

        colors = graph.nodes.select("node_id", F.lit(0).cast("long").alias("color"))
        colors = scratch.truncate(colors, "colors")
        for _ in range(int(max_rounds)):
            cu = colors.select(F.col("node_id").alias("src"),
                               F.col("color").alias("_cs"))
            cv = colors.select(F.col("node_id").alias("dst"),
                               F.col("color").alias("_cd"))
            confl = (edges.join(cu, "src").join(cv, "dst")
                     .where((F.col("_cs") == F.col("_cd"))
                            & (F.col("src") > F.col("dst")))
                     .select(F.col("src").alias("node_id")).distinct())
            confl = scratch.truncate(confl, "confl")
            if scratch.rows("confl") == 0:  # count rode truncate
                break
            # smallest color in 0..deg not used by any neighbor (prev round)
            nbr_colors = (edges.join(confl.withColumnRenamed("node_id", "src"),
                                     "src", "left_semi")
                          .join(cv, "dst")
                          .select(F.col("src").alias("node_id"),
                                  F.col("_cd").alias("used")).distinct())
            cand = (confl.join(deg, "node_id")
                    .select("node_id",
                            F.explode(F.sequence(F.lit(0).cast("long"),
                                                 F.col("deg"))).alias("c")))
            free = cand.join(nbr_colors,
                             (cand.node_id == nbr_colors.node_id)
                             & (cand.c == nbr_colors.used), "left_anti")
            pick = free.groupBy("node_id").agg(F.min("c").alias("_new"))
            colors = colors.join(pick, "node_id", "left").select(
                "node_id", F.coalesce("_new", "color").alias("color"))
            colors = scratch.truncate(colors, "colors")
        return colors.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()
