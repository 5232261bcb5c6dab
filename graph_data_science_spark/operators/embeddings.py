"""Node embeddings: FastRP + seeded uniform random walks (node2vec input).

Reference analogs (algo/src/main/java/org/neo4j/gds/):
- ``gds.fastRP`` — embeddings/fastrp/FastRP.java:55: very-sparse random
  projection init (Achlioptas/Li: ±√3 w.p. 1/6 each, else 0), then L
  iterations of neighbor averaging with per-iteration L2 normalization,
  final embedding = Σ iterationWeights[i] · e_i (+ nodeSelfInfluence · e_0).
- ``gds.randomWalk`` — traversal/RandomWalk.java:49: seeded walks; uniform
  next-hop when p = q = 1 (the default), full second-order node2vec
  (returnFactor 1/p, inOutFactor 1/q) weighted sampling otherwise — see
  :func:`random_walks`.

Determinism/portability: ALL randomness is a pure hash of
(entity, position, seed) — md5-based so the DuckDB oracle derives the SAME
u01 stream: Spark ``conv(substr(md5(s),1,15),16,10)`` equals DuckDB
``CAST('0x'||substr(md5(s),1,15) AS BIGINT)`` (60-bit, /2^60 → [0,1)).
No RNG state on executors, reproducible at any parallelism.

Layout: embeddings live in LONG format ``(node_id, dim, value)`` — the
iteration is then one edges ⋈ state shuffle join + a partial-aggregated
per-(dst, dim) mean, pure Catalyst; at 100 TB this is a d× blowup of the
message volume, the standard trade for staying in whole-stage codegen (a
CSR-block GEMM via mapInPandas is the alternative when d is large). The
final array form is assembled once at the end.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph, UNDIRECTED
from graph_data_science_spark.plans.loop_state import Scratch

TWO60 = float(1 << 60)


def _u01(*cols) -> F.Column:
    """Portable hash-uniform in [0,1): md5 of ':'-joined args, top 60 bits."""
    s = F.concat_ws(":", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("double") / F.lit(TWO60)


def fastrp(
    graph: Graph,
    embedding_dim: int = 8,
    iteration_weights: list[float] | None = None,
    node_self_influence: float = 0.0,
    seed: int = 42,
    long_format: bool = False,
) -> DataFrame:
    """``gds.fastRP`` analog → (node_id, embedding array<double>) — or, with
    ``long_format``, (node_id, dim, value) rounded 6dp (the oracle shape).

    Runs on the UNDIRECTED orientation like the reference (FastRP requires
    an undirected graph)."""
    if iteration_weights is None:
        iteration_weights = [0.0, 1.0, 1.0]
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        g = graph.oriented(UNDIRECTED)
        edges = scratch.truncate(g.edges.select("src", "dst").distinct(), "edges")
        sqrt3 = math.sqrt(3.0)
        dims = spark.range(embedding_dim).select(F.col("id").cast("long").alias("dim"))
        u = _u01(F.col("node_id"), F.col("dim"), F.lit(int(seed)))
        state = graph.nodes.select("node_id").crossJoin(F.broadcast(dims)).select(
            "node_id", "dim",
            F.when(u < 1.0 / 6.0, F.lit(sqrt3))
            .when(u < 2.0 / 6.0, F.lit(-sqrt3))
            .otherwise(F.lit(0.0)).alias("value"),
        )
        state = scratch.truncate(state, "state")

        acc = None
        if node_self_influence:
            acc = state.select(
                "node_id", "dim",
                (F.col("value") * F.lit(float(node_self_influence))).alias("value"))
        for w in iteration_weights:
            # neighbor mean per (dst, dim)
            msgs = (
                edges.join(state.select(F.col("node_id").alias("src"),
                                        "dim", "value"), "src")
                .groupBy(F.col("dst").alias("node_id"), "dim")
                .agg(F.avg("value").alias("value"))
            )
            full = graph.nodes.select("node_id").crossJoin(F.broadcast(dims)) \
                .join(msgs, ["node_id", "dim"], "left") \
                .select("node_id", "dim", F.coalesce("value", F.lit(0.0)).alias("value"))
            norms = full.groupBy("node_id").agg(
                F.sqrt(F.sum(F.col("value") * F.col("value"))).alias("_n"))
            state = full.join(norms, "node_id").select(
                "node_id", "dim",
                F.when(F.col("_n") > 0, F.col("value") / F.col("_n"))
                .otherwise(F.lit(0.0)).alias("value"))
            state = scratch.truncate(state, "state")
            if w:
                part = state.select("node_id", "dim",
                                    (F.col("value") * F.lit(float(w))).alias("value"))
                acc = part if acc is None else acc.unionByName(part)
                acc = scratch.truncate(acc, "acc")
        if acc is None:
            acc = state.select("node_id", "dim", F.lit(0.0).alias("value"))
        out_long = acc.groupBy("node_id", "dim").agg(
            F.round(F.sum("value"), 6).alias("value"))
        if long_format:
            return out_long.localCheckpoint(eager=True)
        arr = out_long.groupBy("node_id").agg(
            F.array_sort(F.collect_list(F.struct("dim", "value"))).alias("_z"))
        out = arr.select(
            "node_id",
            F.transform(F.col("_z"), lambda s: s["value"]).alias("embedding"))
        return out.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()


def node2vec(
    graph: Graph,
    embedding_dim: int = 16,
    walk_length: int = 8,
    walks_per_node: int = 2,
    window_size: int = 3,
    negative_samples: int = 2,
    epochs: int = 1,
    learning_rate: float = 0.025,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """``gds.node2vec`` analog → (node_id, embedding array<double>).

    Two phases, matching embeddings/node2vec/Node2Vec.java:32 (walks +
    skip-gram-negative-sampling training):

    1. WALKS — distributed, the :func:`random_walks` kernel (uniform
       p=q=1 defaults; the scale-bearing phase: walk volume is
       nodes × walks_per_node × walk_length).
    2. SGNS TRAINING — the reference trains with multi-threaded
       asynchronous SGD whose result is concurrency-dependent (its docs say
       so). Here: synchronous full-batch gradient descent with a fully
       EXECUTOR-RESIDENT model — long-format state
       ``(node_id, dim, win, wout)``, join gathers, micro-unit integer
       reductions (see :func:`_train_sgns`). Nothing n-sized
       touches the driver; per-epoch driver traffic is one loss scalar.
       Bit-identical at any partition count; full-batch GD descends a
       fixed objective, so the loss history is monotone-ish and testable.

       When training cost itself is the constraint, :func:`fastrp` /
       :func:`hashgnn` give training-free distributed embeddings.
    """
    walks = random_walks(graph, walk_length=walk_length,
                         walks_per_node=walks_per_node, seed=seed)
    # (center, context) skip-gram pairs within the window — distributed
    a = walks.select(F.col("walk_id"), F.col("step").alias("s1"),
                     F.col("node_id").alias("center"))
    b = walks.select(F.col("walk_id"), F.col("step").alias("s2"),
                     F.col("node_id").alias("context"))
    pairs = (a.join(b, "walk_id")
             .where((F.col("s1") != F.col("s2"))
                    & (F.abs(F.col("s1") - F.col("s2")) <= int(window_size)))
             .select("walk_id", "s1", "s2", "center", "context"))
    return _train_sgns(
        graph, pairs, int(embedding_dim), int(epochs), int(negative_samples),
        float(learning_rate), int(seed), num_partitions)


def _train_sgns(graph, pairs, d, ep, ns, lr0, sd, num_partitions):
    """node2vec's SGNS training phase: executor-resident synchronous
    full-batch gradient descent — the graphsage trainer discipline applied
    to node2vec:

    - MODEL STATE is a long-format DataFrame ``(node_id, dim, win, wout)``
      truncated per epoch through ``Scratch`` — nothing n-sized lives on
      or moves through the driver (the prior trainer collected all node
      ids into a dict, broadcast the 2·n·d model every epoch and
      collected up to n gradient rows back).
    - GATHERS are joins: targets ⋈ state on center / target.
    - Every cross-row float reduction (the z dot product, the
      per-(node, dim) gradient sums, the epoch loss) sums graphsage
      ``_ml`` micro-unit longs — integer addition is associative and
      commutative, so results are bit-identical at ANY partition count
      (the 2-vs-8 invariance test).
    - NEGATIVE draws are ``xxhash64(pair identity, k, epoch, seed) mod
      n`` — a pure function of pair identity, partition-layout
      independent — mapped to node ids through a dense-rank table built
      with the two-level bucketed prefix (plans/partitioning.py — no
      global sort, no driver-side id map).

    Per-epoch driver traffic: ONE scalar (the loss). Reference:
    embeddings/node2vec/Node2Vec.java trains multi-threaded asynchronous
    SGD whose result is concurrency-dependent (its docs say so); this
    engine trades that trajectory for a fixed full-batch objective with
    testable monotone descent.
    """
    from graph_data_science_spark.operators.graphsage import _Q, _ml
    from graph_data_science_spark.plans.partitioning import (
        bucketed_exclusive_prefix)

    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        parts = int(num_partitions or spark.sparkContext.defaultParallelism)
        pair_df = scratch.truncate(
            pairs.repartition(parts, "walk_id", "s1", "s2"), "pairs")
        m_pairs = max(1, scratch.rows("pairs"))

        nodes = graph.nodes.select("node_id")
        bounds = nodes.agg(F.min("node_id").alias("mn"),
                           F.max("node_id").alias("mx"),
                           F.count(F.lit(1)).alias("n")).first()
        mn, n = int(bounds["mn"]), int(bounds["n"])
        span = int(bounds["mx"]) - mn + 1
        n_buckets = 64
        width = max(1, span // n_buckets + 1)
        bucketed = nodes.selectExpr(
            "node_id", f"(node_id - {mn}) DIV {width} AS _bkt")
        ranks = bucketed_exclusive_prefix(
            bucketed, "_bkt", ["node_id"], n_buckets, out="pos"
        ).select("node_id", "pos")
        ranks = scratch.truncate(ranks, "ranks")

        dims = spark.range(int(d)).select(F.col("id").cast("int").alias("dim"))
        # hash-seeded init: md5 of (node, dim, seed), uniform ±0.5/d
        init = ((F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.col("node_id"), F.col("dim"), F.lit(int(sd)))), 1, 15),
            16, 10).cast("long") / float(1 << 60) - 0.5) / float(d))
        emb = nodes.crossJoin(F.broadcast(dims)).select(
            "node_id", "dim", init.alias("win"), F.lit(0.0).alias("wout"))
        emb = scratch.truncate(emb, "emb")

        history = []
        for e in range(ep):
            lr = lr0 * (1.0 - e / max(1, ep))
            pos_t = pair_df.select(
                "walk_id", "s1", "s2", "center",
                F.lit(0).alias("k"), F.col("context").alias("target"),
                F.lit(1.0).alias("label"))
            targets = pos_t
            if ns > 0:
                negp = pair_df.select(
                    "walk_id", "s1", "s2", "center",
                    F.explode(F.sequence(F.lit(1), F.lit(int(ns))))
                    .alias("k"),
                ).withColumn("pos", F.pmod(
                    F.xxhash64("walk_id", "s1", "s2", "k",
                               F.lit(int(e)), F.lit(int(sd))), F.lit(n)))
                negs = negp.join(ranks, "pos").select(
                    "walk_id", "s1", "s2", "center", "k",
                    F.col("node_id").alias("target"),
                    F.lit(0.0).alias("label"))
                targets = targets.unionByName(negs)

            ec = emb.select(F.col("node_id").alias("center"), "dim", "win")
            eo = emb.select(F.col("node_id").alias("target"), "dim", "wout")
            gathered = targets.join(ec, "center").join(eo, ["target", "dim"])
            zc = F.least(F.lit(30.0), F.greatest(
                F.lit(-30.0), F.col("_zi") / F.lit(float(_Q))))
            z = (gathered
                 .groupBy("walk_id", "s1", "s2", "k", "center", "target",
                          "label")
                 .agg(F.sum(_ml(F.col("win") * F.col("wout"))).alias("_zi"))
                 .select("walk_id", "s1", "s2", "k", "center", "target",
                         "label",
                         (F.lit(1.0) / (F.lit(1.0) + F.exp(-zc)))
                         .alias("p")))
            z = scratch.truncate(z, "z")
            loss_term = F.when(
                F.col("label") > 0.5,
                -F.log(F.greatest(F.col("p"), F.lit(1e-12)))
            ).otherwise(
                -F.log(F.greatest(1.0 - F.col("p"), F.lit(1e-12))))
            tot = z.agg(F.sum(_ml(loss_term)).alias("l")).first()["l"]
            history.append(tot / _Q / m_pairs)

            zz = z.select("walk_id", "s1", "s2", "k", "center", "target",
                          (F.col("label") - F.col("p")).alias("g"))
            sc = zz.join(ec, "center").join(eo, ["target", "dim"])
            scale = float(_Q) * float(m_pairs)
            gin = (sc.select(F.col("center").alias("node_id"), "dim",
                             (F.col("g") * F.col("wout")).alias("v"))
                   .groupBy("node_id", "dim")
                   .agg((F.sum(_ml(F.col("v"))) / scale).alias("gin")))
            gout = (sc.select(F.col("target").alias("node_id"), "dim",
                              (F.col("g") * F.col("win")).alias("v"))
                    .groupBy("node_id", "dim")
                    .agg((F.sum(_ml(F.col("v"))) / scale).alias("gout")))
            emb = (emb.join(gin, ["node_id", "dim"], "left")
                   .join(gout, ["node_id", "dim"], "left")
                   .select("node_id", "dim",
                           (F.col("win") + F.lit(lr)
                            * F.coalesce("gin", F.lit(0.0))).alias("win"),
                           (F.col("wout") + F.lit(lr)
                            * F.coalesce("gout", F.lit(0.0))).alias("wout")))
            emb = scratch.truncate(emb, "emb")

        arr = emb.groupBy("node_id").agg(
            F.array_sort(F.collect_list(F.struct("dim", "win"))).alias("_z"))
        out = arr.select(
            "node_id",
            F.transform(F.col("_z"), lambda s: F.round(s["win"], 6))
            .alias("embedding"))
        out = out.localCheckpoint(eager=True)
        out.loss_history = history  # type: ignore[attr-defined]
        return out
    finally:
        scratch.cleanup()


def hashgnn(
    graph: Graph,
    feature_space: int = 64,
    density: float = 0.1,
    embedding_density: int = 8,
    iterations: int = 2,
    seed: int = 42,
) -> DataFrame:
    """``gds.hashgnn`` analog → (node_id, slot, feature) binary embeddings.

    HashGNN (embeddings/hashgnn/HashGNN.java; Tan et al. "Hashing-
    Accelerated Graph Neural Networks") replaces a GNN's float aggregation
    with min-hash sampling over binary features. Deterministic re-expression
    (the reference's neighborInfluence-weighted self/neighbor hash choice is
    collapsed to a single hash family — documented simplification):

    - init: node v holds feature f ∈ [0, feature_space) iff
      ``u01(v, f, seed) < density`` — the hash-seeded binary feature matrix.
    - iteration t, slot s ∈ [0, embedding_density): the new feature of v in
      slot s is ``argmin_{f ∈ F(v) ∪ ⋃_{u→v} F(u)} u01(t, s, f, seed)`` —
      one min-hash sample of the 1-hop feature union per slot; the new
      F(v) = the set of sampled features.

    Everything is min-aggregation over hashes — pure Catalyst (explode +
    partial-agg min per (node, slot)), fully SQL-oracle-checkable, and the
    scale shape is one edges ⋈ features join per iteration with message
    volume |E| · avg_features.
    """
    if int(iterations) < 1:
        raise ValueError("hashgnn requires iterations >= 1")
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        edges = scratch.truncate(graph.edges.select("src", "dst").distinct(), "edges")
        feats = spark.range(int(feature_space)).select(
            F.col("id").cast("long").alias("feature"))
        init_u = _u01(F.col("node_id"), F.col("feature"), F.lit(int(seed)))
        state = (graph.nodes.select("node_id").crossJoin(F.broadcast(feats))
                 .where(init_u < float(density))
                 .select("node_id", "feature").distinct())
        state = scratch.truncate(state, "feat")
        slots = spark.range(int(embedding_density)).select(
            F.col("id").cast("long").alias("slot"))
        for t in range(int(iterations)):
            nbr = (edges.join(state.select(F.col("node_id").alias("src"),
                                           "feature"), "src")
                   .select(F.col("dst").alias("node_id"), "feature"))
            pool = state.unionByName(nbr).distinct()
            h = _u01(F.lit(t), F.col("slot"), F.col("feature"), F.lit(int(seed)))
            sampled = (pool.crossJoin(F.broadcast(slots))
                       .select("node_id", "slot", "feature", h.alias("_h"))
                       .groupBy("node_id", "slot")
                       .agg(F.min(F.struct(F.col("_h"), F.col("feature")))
                            .alias("_b"))
                       .select("node_id", "slot",
                               F.col("_b.feature").alias("feature")))
            sampled = scratch.truncate(sampled, "sampled")
            state = scratch.truncate(
                sampled.select("node_id", "feature").distinct(), "feat")
            last = sampled
        return last.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()


def random_walks(
    graph: Graph,
    walk_length: int = 5,
    walks_per_node: int = 1,
    seed: int = 42,
    p: float = 1.0,
    q: float = 1.0,
    start_nodes: list[int] | None = None,
) -> DataFrame:
    """``gds.randomWalk`` analog → (walk_id, step, node_id).

    walk_id = node_id * walks_per_node + walk index. A walk ends early at a
    node with no out-neighbors (no further rows).

    Uniform kernel (p = q = 1, the GDS defaults): next hop = the
    ``floor(u01(walk_id, step, seed) · out_deg)``-th out-neighbor in
    (dst ascending) order — pure hash, reproducible anywhere.

    Biased second-order kernel (p ≠ 1 or q ≠ 1, node2vec Grover-Leskovec
    α-weights, traversal/RandomWalk.java:49 ``returnFactor``/``inOutFactor``):
    candidate x from t→v→x gets weight 1/p if x = t, 1 if edge t→x exists,
    else 1/q; the hop is the first candidate (dst ascending) whose running
    weight sum exceeds ``u01(walk_id, step, seed) · total_weight``. The
    running sum is an ORDER-DEFINED sequential window sum, so the DuckDB
    oracle reproduces it bit-for-bit; per step this is one neighbor join,
    one (prev, cand) edge-membership left join, and one per-walk window —
    walks are independent keys, so the window shuffle partitions cleanly.
    """
    from pyspark.sql import Window

    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        edges = graph.edges.select("src", "dst").distinct()
        w = Window.partitionBy("src").orderBy("dst")
        nbrs = edges.withColumn("idx", F.row_number().over(w) - 1)
        degs = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        nbrs = scratch.truncate(nbrs.join(degs, "src"), "nbrs")

        starts = graph.nodes.select("node_id") if start_nodes is None else \
            spark.createDataFrame([(int(s),) for s in start_nodes], "node_id long")
        wpn = int(walks_per_node)
        reps = spark.range(wpn).select(F.col("id").cast("long").alias("_r"))
        cur = starts.crossJoin(F.broadcast(reps)).select(
            (F.col("node_id") * wpn + F.col("_r")).alias("walk_id"),
            F.lit(0).cast("long").alias("step"),
            F.col("node_id"),
        )
        cur = scratch.truncate(cur, "cur")
        out = cur
        biased = not (p == 1.0 and q == 1.0)
        if not biased:
            for step in range(1, int(walk_length)):
                pick = F.floor(_u01(F.col("walk_id"), F.lit(step),
                                    F.lit(int(seed))) * F.col("deg")).cast("long")
                nxt = (cur.join(nbrs, cur.node_id == nbrs.src, "inner")
                       .where(F.col("idx") == pick)
                       .select("walk_id", F.lit(step).cast("long").alias("step"),
                               F.col("dst").alias("node_id")))
                nxt = scratch.truncate(nxt, "cur")
                if scratch.rows("cur") == 0:  # count rode truncate
                    break
                out = scratch.truncate(out.unionByName(nxt), "out")
                cur = nxt
            return out.localCheckpoint(eager=True)

        # second-order (p, q) kernel — state carries the previous hop
        mark = edges.select(F.col("src").alias("_mt"), F.col("dst").alias("_mx"),
                            F.lit(True).alias("_isnbr"))
        cur2 = None  # (walk_id, prev, node_id)
        for step in range(1, int(walk_length)):
            if step == 1:
                pick = F.floor(_u01(F.col("walk_id"), F.lit(step),
                                    F.lit(int(seed))) * F.col("deg")).cast("long")
                nxt = (cur.join(nbrs, cur.node_id == nbrs.src, "inner")
                       .where(F.col("idx") == pick)
                       .select("walk_id", F.col("node_id").alias("prev"),
                               F.col("dst").alias("node_id")))
            else:
                cand = (cur2.join(nbrs.select(F.col("src"),
                                              F.col("dst").alias("cand")),
                                  cur2.node_id == F.col("src"), "inner")
                        .select("walk_id", "prev",
                                F.col("node_id").alias("cur"), "cand"))
                cand = cand.join(
                    mark, (cand.prev == mark._mt) & (cand.cand == mark._mx),
                    "left").drop("_mt", "_mx")
                wgt = (F.when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
                       .when(F.col("_isnbr").isNotNull(), F.lit(1.0))
                       .otherwise(F.lit(1.0 / q)))
                run = Window.partitionBy("walk_id").orderBy("cand") \
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                allw = Window.partitionBy("walk_id")
                thr = _u01(F.col("walk_id"), F.lit(step), F.lit(int(seed))) \
                    * F.sum("_w").over(allw)
                nxt = (cand.withColumn("_w", wgt)
                       .withColumn("_cum", F.sum("_w").over(run))
                       .withColumn("_thr", thr)
                       .where((F.col("_cum") > F.col("_thr"))
                              & (F.col("_cum") - F.col("_w") <= F.col("_thr")))
                       .select("walk_id", F.col("cur").alias("prev"),
                               F.col("cand").alias("node_id")))
            nxt = scratch.truncate(nxt, "cur2")
            if scratch.rows("cur2") == 0:  # count rode truncate
                break
            out = scratch.truncate(out.unionByName(
                nxt.select("walk_id", F.lit(step).cast("long").alias("step"),
                           "node_id")), "out")
            cur2 = nxt
        return out.localCheckpoint(eager=True)
    finally:
        scratch.cleanup()
