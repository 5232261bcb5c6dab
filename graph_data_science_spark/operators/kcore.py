"""K-core decomposition — ``gds.kcore`` analog.

Reference: algo/src/main/java/org/neo4j/gds/kcore/KCoreDecomposition.java —
iterative peeling on the undirected graph: repeatedly remove nodes of
degree < k; a node's core value is the largest k for which it survives.

Spark formulation:
- :func:`k_core` (membership for one k): peel as a superstep loop — each
  round drops nodes whose current degree < k and recounts; converges when
  no node is dropped, and raises if ``max_iterations`` rounds end first.
  One partial-aggregated degree count + one semi-join per round.
- :func:`coreness`: full decomposition via the distributed h-index
  fixpoint (one Pregel superstep per round, no per-k driver loop) — see
  its docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.plans.loop_state import Scratch
from graph_data_science_spark.plans.partitioning import shuffle_hash
from graph_data_science_spark.plans.pregel import ACTIVE_COL, Pregel


def _undirected_simple(graph: Graph) -> DataFrame:
    e = graph.canonical_undirected_edges()
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def k_core(graph: Graph, k: int, max_iterations: int = 100) -> DataFrame:
    """Nodes of the k-core → ``(node_id, in_core: boolean)`` over all nodes.

    Raises ``ValueError`` when ``max_iterations`` peeling rounds end before
    the fixpoint: the survivors of a cut-short peel are a superset of the
    k-core, not the k-core."""
    spark = graph.nodes.sparkSession
    edges = _undirected_simple(graph).persist()
    scratch = Scratch(spark)
    try:
        alive = scratch.truncate(
            edges.select(F.col("src").alias("node_id")).distinct(), "alive",
            rows_hint=graph.node_count())
        before = scratch.rows("alive")
        for _ in range(max_iterations):
            cur = (
                edges.join(alive.withColumnRenamed("node_id", "src"), "src", "left_semi")
                .join(alive.withColumnRenamed("node_id", "dst"), "dst", "left_semi")
            )
            deg = cur.groupBy(F.col("src").alias("node_id")).agg(F.count(F.lit(1)).alias("_d"))
            # one action per round: the survivor count rides the truncate
            alive = scratch.truncate(deg.where(F.col("_d") >= int(k)).select("node_id"),
                                     "alive")
            after = scratch.rows("alive")
            if after == before or after == 0:
                break
            before = after
        else:
            raise ValueError(
                f"k_core did not converge in {max_iterations} iterations "
                "— raise max_iterations")
        alive = scratch.cleanup(keep=alive)
    finally:
        scratch.cleanup()
        edges.unpersist()
    return graph.nodes.select("node_id").join(
        alive.withColumn("in_core", F.lit(True)), "node_id", "left"
    ).select("node_id", F.coalesce("in_core", F.lit(False)).alias("in_core"))


def coreness(graph: Graph, max_iterations: int = 100) -> DataFrame:
    """Core value per node → ``(node_id, core: long)``; isolated nodes = 0.

    Distributed h-index iteration (Montresor/De Pellegrini/Miorandi TPDS'13;
    Lü et al. PNAS 2016): start every node at its undirected degree, then
    repeatedly set ``core(v) = H({core(u) : u ∈ N(v)})`` where H is the
    h-index — the largest h such that ≥ h neighbors have value ≥ h. The
    fixpoint of this operator IS the k-core decomposition, and values only
    decrease, so rounds after convergence are idempotent (the property the
    unrolled SQL oracle relies on).

    This replaces the round-1 peel-per-k driver loop (O(max_core × cascade
    depth) Spark jobs with two actions per inner round): here rounds =
    iterations-to-fixpoint of the h-operator (typically ≪ max core on
    power-law graphs) and each round is ONE superstep — mirrored-edges ⋈
    state join, a per-node rank over neighbor values, one max aggregate —
    inside the Pregel driver (lineage truncation, vote-to-halt).

    Reference parity: algo/src/main/java/org/neo4j/gds/kcore/
    KCoreDecomposition.java computes the same decomposition by scanning-peel;
    the h-index fixpoint is the standard vertex-centric re-expression.
    """
    from pyspark.sql import Window

    spark = graph.nodes.sparkSession
    edges = _undirected_simple(graph).persist()

    deg = edges.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).cast("long").alias("core"))
    state = (
        graph.nodes.select("node_id")
        .join(deg, "node_id", "left")
        .select("node_id", F.coalesce("core", F.lit(0)).cast("long").alias("core"),
                F.lit(1).cast("int").alias(ACTIVE_COL))
    )

    def step(st: DataFrame, superstep: int) -> DataFrame:
        nbr_vals = st.select(F.col("node_id").alias("_u"), F.col("core").alias("_c"))
        vals = edges.join(shuffle_hash(nbr_vals), edges.dst == F.col("_u"), "inner") \
            .select(F.col("src").alias("_v"), F.col("_c"))
        # h-index of the neighbor multiset: rank values desc per node, then
        # H = max(min(rank, value)) — one shuffle-sort + one partial max
        w = Window.partitionBy("_v").orderBy(F.desc("_c"))
        hidx = (
            vals.withColumn("_rn", F.row_number().over(w))
            .groupBy("_v")
            .agg(F.max(F.least(F.col("_rn").cast("long"), F.col("_c"))).alias("_h"))
        )
        joined = st.join(shuffle_hash(hidx), st.node_id == F.col("_v"), "left")
        new_core = F.coalesce(F.col("_h"), F.col("core"))
        return joined.select(
            st.node_id,
            new_core.alias("core"),
            (new_core < F.col("core")).cast("int").alias(ACTIVE_COL),
        )

    driver = Pregel(spark, max_iterations=max_iterations,
                    extra_metrics={"max_core": F.max("core")})
    try:
        res = driver.run(state, step)
    finally:
        edges.unpersist()
    return res.state.select("node_id", "core")
