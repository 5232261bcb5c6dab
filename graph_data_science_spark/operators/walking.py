"""Path collapsing + random-walk-with-restart sampling.

- ``collapse_path`` — ``gds.collapsePath.mutate`` analog (algo/src/main/
  java/org/neo4j/gds/walking/CollapsePath.java): a chain of relationship
  hops becomes one direct relationship. Expressed as k-1 chained hash
  joins (each hop shuffles on the joining node id; Catalyst reorders /
  AQE handles skew) + final distinct.
- ``sample_rwr`` — ``gds.graph.sample.rwr`` analog (graph-sampling/.../rw/
  GraphSampleConstructor.java): random-walk-with-restart subgraph
  sampling. Randomness is a pure hash of (edge, round, seed) —
  deterministic at any parallelism, no RNG state on executors (same
  discipline as sources/generator.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.plans.loop_state import Scratch


def collapse_path(graph: Graph, length: int = 2,
                  allow_self_loops: bool = False) -> DataFrame:
    """Distinct (src, dst) pairs connected by a directed path of exactly
    ``length`` hops."""
    if length < 1:
        raise ValueError("length must be >= 1")
    hop = graph.edges.select("src", "dst")
    acc = hop
    for _ in range(length - 1):
        nxt = hop.select(F.col("src").alias("_mid"), F.col("dst").alias("_to"))
        acc = (
            acc.join(nxt, acc.dst == F.col("_mid"), "inner")
            .select(acc.src, F.col("_to").alias("dst"))
        )
    out = acc.distinct()
    if not allow_self_loops:
        out = out.where(F.col("src") != F.col("dst"))
    return out


def _u01(*cols) -> F.Column:
    h = F.xxhash64(*cols)
    return (F.pmod(h, F.lit(1 << 53)).cast("double")) / float(1 << 53)


def sample_cnarw(graph: Graph, start_nodes: list[int], rounds: int = 10,
                 seed: int = 42) -> DataFrame:
    """``gds.graph.sample.cnarw`` analog — common-neighbor-aware sampling
    (graph-sampling/.../CNARW*, after Zhou et al. "Leveraging History for
    Faster Sampling of Online Social Networks"): frontier expansion where an
    edge's acceptance probability is down-weighted by neighborhood OVERLAP —
    ``p(u→v) ∝ 1 − |N(u)∩N(v)| / min(deg u, deg v)`` — so the sample
    escapes dense clusters instead of re-admitting near-duplicates of what
    it already has.

    Same hash-randomness discipline as :func:`sample_rwr` (xxhash64 of
    (edge, round, seed)); overlap counts are one triangle-style self-join
    computed once up front. Returns the sampled node set (node_id)."""
    edges = graph.edges.select("src", "dst").distinct().persist()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # |N(u) ∩ N(v)| over OUT-neighborhoods, per edge (u, v)
    x = edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    y = edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    common = (x.join(y, "w").groupBy("u", "v").agg(F.count(F.lit(1)).alias("cn")))
    weighted = (edges
                .join(deg.withColumnRenamed("src", "_du").withColumnRenamed("deg", "du"),
                      edges.src == F.col("_du"), "left")
                .join(deg.withColumnRenamed("src", "_dv").withColumnRenamed("deg", "dv"),
                      edges.dst == F.col("_dv"), "left")
                .join(common, (edges.src == common.u) & (edges.dst == common.v), "left")
                .select("src", "dst",
                        (1.0 - F.coalesce("cn", F.lit(0))
                         / F.greatest(F.least(F.coalesce("du", F.lit(1)),
                                              F.coalesce("dv", F.lit(1))), F.lit(1)))
                        .alias("accept_p"))
                ).persist()
    try:
        return _grow(weighted, start_nodes, rounds,
                     lambda r: _u01(F.col("src"), F.col("dst"), F.lit(r),
                                    F.lit(int(seed))) < F.col("accept_p"))
    finally:
        edges.unpersist()
        weighted.unpersist()


def sample_rwr(graph: Graph, start_nodes: list[int], rounds: int = 10,
               accept_prob: float = 0.5, seed: int = 42) -> DataFrame:
    """Sampled node set grown by seeded frontier expansion → (node_id).

    Each round, every edge out of the current sample admits its target with
    probability ``accept_prob`` (decided by ``xxhash64(src, dst, round,
    seed)`` — reproducible everywhere); restart is implicit since the start
    set stays in the sample. The induced subgraph is
    ``graph.subgraph`` semi-joined on the returned nodes.
    """
    edges = graph.edges.select("src", "dst").persist()
    try:
        return _grow(edges, start_nodes, rounds,
                     lambda r: _u01(F.col("src"), F.col("dst"), F.lit(r),
                                    F.lit(int(seed))) < accept_prob)
    finally:
        edges.unpersist()


def _grow(edges: DataFrame, start_nodes: list[int], rounds: int,
          accept) -> DataFrame:
    """The samplers' shared frontier loop: each round admits the targets of
    the edges out of the sample that pass ``accept(round)``; stops after
    ``rounds`` or when a round admits nothing new. The sample size rides
    each truncate, so a round is one Spark job."""
    spark = edges.sparkSession
    scratch = Scratch(spark)
    try:
        sampled = scratch.truncate(
            spark.createDataFrame([(int(s),) for s in start_nodes], "node_id long"),
            "sampled", rows_hint=len(start_nodes))
        size = scratch.rows("sampled")
        for r in range(rounds):
            frontier = edges.join(
                sampled.withColumnRenamed("node_id", "src"), "src", "left_semi"
            ).where(accept(r)).select(F.col("dst").alias("node_id"))
            sampled = scratch.truncate(sampled.unionByName(frontier).distinct(),
                                       "sampled")
            if scratch.rows("sampled") == size:
                break
            size = scratch.rows("sampled")
        return scratch.cleanup(keep=sampled)
    finally:
        scratch.cleanup()
