"""GraphSAGE: inductive node embeddings (mean aggregator).

Reference analog: ``gds.beta.graphSage`` —
algo/src/main/java/org/neo4j/gds/embeddings/graphsage/GraphSage.java and
GraphSageModelTrainer.java (Hamilton, Ying & Leskovec, "Inductive
Representation Learning on Large Graphs", NeurIPS 2017).

Two phases, split the way GraphSAGE is actually deployed at scale (train on
a sample, infer everywhere — the inductive property is the whole point):

1. :func:`graphsage_predict` — the 100 TB path. K layers; layer k computes
   for every node v::

       h_N(v) = mean over sampled in-neighbors u of h_{k-1}(u)
       h_k(v) = l2_normalize( relu( W_self·h_{k-1}(v) + W_neigh·h_N(v) ) )

   entirely in Catalyst on LONG-format state ``(node_id, dim, value)``:
   neighbor sampling is a per-dst hash rank (row_number ≤ sample_size over
   ``u01(src, dst, layer, seed)`` — deterministic at any parallelism),
   the mean is one edges ⋈ state shuffle join + partial agg, and each
   matvec is a broadcast join against the tiny weight table followed by a
   per-(node, out-dim) partial-aggregated sum. Per layer: 2 shuffle aggs +
   1 shuffle join — no Python in the loop, no driver state beyond the
   weight matrices (d_out × d_in floats).

   Activation choice: the reference supports SIGMOID/RELU (defaults RELU
   for mean aggregation); this engine fixes RELU + the paper's per-layer L2
   normalization.

2. :func:`graphsage_train` — full-batch gradient descent on the
   unsupervised GraphSAGE loss (σ(z_u·z_v) for 1-hop positives, hash-drawn
   negatives) with the node state, activations and gradients executor-
   resident in the same long format; only the weight matrices — the model
   — reach the driver. The reference trains with multi-threaded Adam on
   sampled batches, whose result is concurrency-dependent; here every
   cross-row sum is an integer micro-unit reduction, so training is
   bit-identical at any parallelism (docs/SCALE_NOTES.md §29). Trained
   weights feed graphsage_predict for inference over the full graph.

Determinism/portability: weight init is hash-seeded in PYTHON
(:func:`init_weights`, hashlib md5 — the same u01 discipline as
embeddings._u01) and the literal values are inlined into both the Spark
plan and the DuckDB oracle, so no hash needs to agree across engines.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.operators.embeddings import _u01
from graph_data_science_spark.plans.loop_state import Scratch


def _py_u01(*args) -> float:
    s = ":".join(str(a) for a in args)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) / float(1 << 60)


def init_weights(layer_dims: list[int], seed: int = 42) -> list[dict]:
    """Hash-seeded deterministic weights: one layer per consecutive dim pair.

    layer k maps d_in = layer_dims[k] → d_out = layer_dims[k+1] with
    ``w[j][i] = (u01('gs', k, kind, j, i, seed) − 0.5) / sqrt(d_in)``
    (uniform ±0.5/√d_in — the standard fan-in scaling, reproducible
    anywhere). Returns ``[{"w_self": [[..]], "w_neigh": [[..]]}, ...]``.
    """
    layers = []
    for k in range(len(layer_dims) - 1):
        d_in, d_out = layer_dims[k], layer_dims[k + 1]
        sc = 1.0 / math.sqrt(d_in)
        layers.append({
            kind: [[round((_py_u01("gs", k, kind, j, i, seed) - 0.5) * sc, 6)
                    for i in range(d_in)] for j in range(d_out)]
            for kind in ("w_self", "w_neigh")
        })
    return layers


def degree_features(graph: Graph) -> DataFrame:
    """Default inductive features when none are supplied (the reference's
    degreeProperty / featureProperties fallback): per node
    ``[log1p(out_deg), log1p(in_deg), 1.0]``."""
    edges = graph.edges.select("src", "dst").distinct()
    outd = edges.groupBy(F.col("src").alias("node_id")).agg(
        F.count(F.lit(1)).alias("_o"))
    ind = edges.groupBy(F.col("dst").alias("node_id")).agg(
        F.count(F.lit(1)).alias("_i"))
    return (graph.nodes.select("node_id")
            .join(outd, "node_id", "left").join(ind, "node_id", "left")
            .select("node_id", F.array(
                F.log1p(F.coalesce(F.col("_o"), F.lit(0)).cast("double")),
                F.log1p(F.coalesce(F.col("_i"), F.lit(0)).cast("double")),
                F.lit(1.0)).alias("features")))


def _weights_df(spark, layer: dict):
    """Tiny (j, i, ws, wn) DataFrame for one layer — broadcast side."""
    ws, wn = layer["w_self"], layer["w_neigh"]
    rows = [(j, i, float(ws[j][i]), float(wn[j][i]))
            for j in range(len(ws)) for i in range(len(ws[0]))]
    return spark.createDataFrame(rows, "j long, i long, ws double, wn double")


def graphsage_predict(
    graph: Graph,
    features: DataFrame,  # (node_id, features array<double>)
    weights: list[dict],
    sample_sizes: list[int | None] | None = None,
    seed: int = 42,
    long_format: bool = False,
) -> DataFrame:
    """Distributed GraphSAGE forward pass → (node_id, embedding) — or, with
    ``long_format``, (node_id, dim, value) rounded 6dp (the oracle shape).

    ``sample_sizes[k]`` bounds layer k's neighborhood (None = all
    in-neighbors); sampling is the hash rank described in the module
    docstring, so at 100 TB a hub's fan-in collapses to ``sample_size``
    messages deterministically — the skew guard is built into the operator.
    """
    from pyspark.sql import Window

    spark = graph.nodes.sparkSession
    if sample_sizes is None:
        sample_sizes = [None] * len(weights)
    if len(sample_sizes) != len(weights):
        raise ValueError("sample_sizes must match the number of layers")
    scratch = Scratch(spark)
    try:
        edges = scratch.truncate(
            graph.edges.select("src", "dst").distinct(), "edges")
        state = features.select(
            "node_id", F.posexplode("features").alias("dim", "value")
        ).select("node_id", F.col("dim").cast("long").alias("dim"), "value")
        state = scratch.truncate(state, "state")
        for k, layer in enumerate(weights):
            s = sample_sizes[k]
            if s is None:
                sampled = edges
            else:
                rk = Window.partitionBy("dst").orderBy("_h", "src")
                sampled = (edges
                           .withColumn("_h", _u01(F.col("src"), F.col("dst"),
                                                  F.lit(k), F.lit(int(seed))))
                           .withColumn("_r", F.row_number().over(rk))
                           .where(F.col("_r") <= int(s))
                           .select("src", "dst"))
            nmean = (sampled.join(state.select(F.col("node_id").alias("src"),
                                               "dim", "value"), "src")
                     .groupBy(F.col("dst").alias("node_id"), "dim")
                     .agg(F.avg("value").alias("nval")))
            full = (state.join(nmean, ["node_id", "dim"], "left")
                    .select("node_id", F.col("dim").alias("i"),
                            F.col("value").alias("sval"),
                            F.coalesce("nval", F.lit(0.0)).alias("nval")))
            w = _weights_df(spark, layer)
            pre = (full.join(F.broadcast(w), "i")
                   .groupBy("node_id", F.col("j").alias("dim"))
                   .agg(F.sum(F.col("sval") * F.col("ws")
                              + F.col("nval") * F.col("wn")).alias("value"))
                   .select("node_id", "dim",
                           F.greatest(F.col("value"), F.lit(0.0)).alias("value")))
            norms = pre.groupBy("node_id").agg(
                F.sqrt(F.sum(F.col("value") * F.col("value"))).alias("_n"))
            state = pre.join(norms, "node_id").select(
                "node_id", "dim",
                F.when(F.col("_n") > 0, F.col("value") / F.col("_n"))
                .otherwise(F.lit(0.0)).alias("value"))
            state = scratch.truncate(state, "state")
        out_long = state.select("node_id", "dim",
                                F.round("value", 6).alias("value"))
        if long_format:
            return out_long.localCheckpoint(eager=True)
        arr = out_long.groupBy("node_id").agg(
            F.array_sort(F.collect_list(F.struct("dim", "value"))).alias("_z"))
        return arr.select(
            "node_id",
            F.transform(F.col("_z"), lambda t: t["value"]).alias("embedding")
        ).localCheckpoint(eager=True)
    finally:
        scratch.cleanup()


_Q = 1_000_000          # micro-units: state/activation fixed point
_QG = 1_000_000_000     # nano-units: weight-gradient fixed point


def _ml(col):
    """double → micro-unit long. Every CROSS-ROW float reduction in the
    distributed trainer sums these integers instead of doubles: integer
    addition is associative and commutative, so the result is bit-identical
    at ANY shuffle-partition count / executor count — the same fixed-point
    determinism discipline as the LM scorer's integer micro-nats
    (operators/lm.py) and the integer-hyperplane embedding LSH
    (operators/dedup.py), with the 1e-6 quantum matching the engine-wide
    round-6 output contract."""
    return F.round(col * _Q).cast("long")


def graphsage_train(
    graph: Graph,
    features: DataFrame,
    layer_dims: list[int],
    epochs: int = 5,
    learning_rate: float = 0.05,
    negative_samples: int = 2,
    seed: int = 42,
    return_history: bool = False,
):
    """``gds.beta.graphSage.train`` analog → trained weights for
    :func:`graphsage_predict` (with ``return_history``, also the per-epoch
    loss). Full-batch gradient descent on GraphSageModelTrainer.java's
    unsupervised loss; deterministic where the reference's multi-threaded
    Adam is concurrency-dependent.

    Spark-first shape, the node2vec-distributed / ml.mlp discipline taken
    one step further: the MODEL (two tiny weight matrices per layer) is
    the only driver state; node state, neighbor means, activations and
    all gradients live in long-format DataFrames ``(node_id, dim, value)``
    and never leave the executors. Per epoch:

    - FORWARD: per layer, one edges ⋈ state shuffle agg (full in-neighbor
      mean — training uses the full neighborhood, no sampling, which
      removes the nondeterminism of the reference's sampled batches), one
      broadcast-weight matvec agg, a relu +
      L2-normalize projection; per-layer caches (input, neighbor mean,
      pre-activation, norm, output) truncate into scratch for backward.
    - LOSS/dZ: σ(z_u·z_v) positives over the edge table plus
      ``negative_samples`` hash-drawn negatives per edge (drawn from the
      edge IDENTITY (src, dst, t) — partition-layout independent — and
      resolved to nodes through a rank table, so any node can be drawn);
      edge-level gradient rows scatter back to nodes in one union + agg.
    - BACKWARD: per layer, the L2-norm/relu chain rule runs as per-row
      column expressions; the two weight gradients reduce to d_out×d_in
      cells via (j, i) aggs (collected — they ARE the model); dh flows
      down through a broadcast matvec plus one edges ⋈ grad scatter agg
      (Aᵀ, mirroring the forward gather).

    Determinism: every cross-row reduction sums :func:`_ml` micro-unit
    longs (weight-gradient cells sum nano-unit longs), so results are
    bit-identical at any parallelism — no driver summation tree needed,
    and unlike per-partition-partial schemes the property holds for the
    in-plan shuffle aggs themselves. The ≤1e-6 quantization per term is
    deterministic and immaterial to GD (tests pin loss descent and
    partition-count invariance).
    """
    import numpy as np

    from pyspark.sql import Window

    spark = features.sparkSession
    L = len(layer_dims) - 1
    ns, lr = int(negative_samples), float(learning_rate)
    feat_w = len(features.select("features").first()["features"])
    if layer_dims[0] != feat_w:
        raise ValueError("layer_dims[0] must equal the feature width")

    scratch = Scratch(spark)
    try:
        edges = scratch.truncate(
            graph.edges.select("src", "dst").distinct(), "edges")
        m_edges = max(1, edges.count())
        indeg = edges.groupBy(F.col("dst").alias("node_id")).agg(
            F.count(F.lit(1)).alias("_deg"))
        # node rank table for negative draws: position → node_id. Window
        # over the node table (one-time, n rows); at 10^12 nodes swap in
        # plans.partitioning.bucketed_exclusive_prefix (rank without a
        # global sort) — the draw itself is already scale-safe.
        rank = scratch.truncate(
            features.select("node_id").withColumn(
                "_pos", F.row_number().over(Window.orderBy("node_id")) - 1),
            "rank")
        n_nodes = rank.count()

        x_long = scratch.truncate(
            features.select(
                "node_id", F.posexplode("features").alias("dim", "value"))
            .select("node_id", F.col("dim").cast("long").alias("dim"),
                    "value"), "x")

        init = init_weights(layer_dims, seed=seed)
        Ws = [np.array(l["w_self"]) for l in init]
        Wn = [np.array(l["w_neigh"]) for l in init]
        history = []

        for _ep in range(int(epochs)):
            # ---- forward --------------------------------------------------
            cache = []
            h = x_long
            for k in range(L):
                hn = (edges.join(
                    h.select(F.col("node_id").alias("src"), "dim", "value"),
                    "src")
                    .groupBy(F.col("dst").alias("node_id"), "dim")
                    .agg(F.sum(_ml(F.col("value"))).alias("_s"))
                    .join(indeg, "node_id")
                    .select("node_id", "dim",
                            (F.col("_s") / (F.lit(_Q) * F.col("_deg")))
                            .alias("value")))
                hn = scratch.truncate(hn, f"hn{k}")
                full = (h.join(hn.select("node_id", "dim",
                                         F.col("value").alias("_nv")),
                               ["node_id", "dim"], "left")
                        .select("node_id", F.col("dim").alias("i"),
                                F.col("value").alias("_sv"),
                                F.coalesce("_nv", F.lit(0.0)).alias("_nv")))
                w = _weights_df(spark, {"w_self": Ws[k].tolist(),
                                        "w_neigh": Wn[k].tolist()})
                pre = (full.join(F.broadcast(w), "i")
                       .groupBy("node_id", F.col("j").alias("dim"))
                       .agg(F.sum(_ml(F.col("_sv") * F.col("ws")
                                      + F.col("_nv") * F.col("wn")))
                            .alias("_s"))
                       .select("node_id", "dim",
                               (F.col("_s") / _Q).alias("value")))
                pre = scratch.truncate(pre, f"pre{k}")
                act = F.greatest(F.col("value"), F.lit(0.0))
                nrm = (pre.groupBy("node_id")
                       .agg(F.sum(_ml(act * act)).alias("_s"))
                       .select("node_id",
                               F.sqrt(F.col("_s") / _Q).alias("_n")))
                nrm = scratch.truncate(nrm, f"nrm{k}")
                out = (pre.join(nrm, "node_id")
                       .select("node_id", "dim",
                               F.when(F.col("_n") > 0,
                                      F.greatest(F.col("value"), F.lit(0.0))
                                      / F.col("_n"))
                               .otherwise(F.lit(0.0)).alias("value")))
                out = scratch.truncate(out, f"out{k}")
                cache.append((h, hn, pre, nrm, out))
                h = out
            z = h

            # ---- loss + dZ over edges ------------------------------------
            zu = z.select(F.col("node_id").alias("src"), "dim",
                          F.col("value").alias("_zu"))
            zv = z.select(F.col("node_id").alias("dst"), "dim",
                          F.col("value").alias("_zv"))
            ez = scratch.truncate(
                edges.join(zu, "src").join(zv, ["dst", "dim"]), "ez")
            zp = (ez.groupBy("src", "dst")
                  .agg(F.sum(_ml(F.col("_zu") * F.col("_zv"))).alias("_s"))
                  .select("src", "dst",
                          F.least(F.lit(30.0),
                                  F.greatest(F.lit(-30.0),
                                             F.col("_s") / _Q)).alias("_zp")))
            pdf = zp.select("src", "dst",
                            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_zp"))))
                            .alias("_p"))
            pdf = scratch.truncate(pdf, "p")
            loss_pos = pdf.agg(F.sum(_ml(
                -F.log(F.greatest(F.col("_p"), F.lit(1e-12))))).alias("l")
            ).first()["l"] / _Q

            epos = ez.join(pdf, ["src", "dst"])
            contribs = [
                epos.select(F.col("src").alias("node_id"), "dim",
                            ((F.col("_p") - 1.0) * F.col("_zv"))
                            .alias("value")),
                epos.select(F.col("dst").alias("node_id"), "dim",
                            ((F.col("_p") - 1.0) * F.col("_zu"))
                            .alias("value")),
            ]
            loss_neg = 0.0
            for t in range(ns):
                draw = edges.select(
                    "src", "dst",
                    F.floor(_u01(F.col("src"), F.col("dst"),
                                 F.lit(f"gsneg{t}"), F.lit(int(seed)))
                            * n_nodes).cast("long").alias("_pos"))
                draw = draw.join(rank, "_pos").select(
                    "src", "dst", F.col("node_id").alias("_w"))
                ew = (draw.join(zu, "src")
                      .join(z.select(F.col("node_id").alias("_w"), "dim",
                                     F.col("value").alias("_zw")),
                            ["_w", "dim"]))
                ew = scratch.truncate(ew, f"ew{t}")
                zn = (ew.groupBy("src", "dst", "_w")
                      .agg(F.sum(_ml(F.col("_zu") * F.col("_zw")))
                           .alias("_s"))
                      .select("src", "dst", "_w",
                              (F.lit(1.0) / (F.lit(1.0) + F.exp(
                                  -F.least(F.lit(30.0), F.greatest(
                                      F.lit(-30.0), F.col("_s") / _Q)))))
                              .alias("_pn")))
                zn = scratch.truncate(zn, f"zn{t}")
                loss_neg += zn.agg(F.sum(_ml(
                    -F.log(F.greatest(1.0 - F.col("_pn"), F.lit(1e-12))))
                ).alias("l")).first()["l"] / _Q
                en = ew.join(zn, ["src", "dst", "_w"])
                contribs.append(en.select(
                    F.col("src").alias("node_id"), "dim",
                    (F.col("_pn") * F.col("_zw")).alias("value")))
                contribs.append(en.select(
                    F.col("_w").alias("node_id"), "dim",
                    (F.col("_pn") * F.col("_zu")).alias("value")))
            history.append(round((loss_pos + loss_neg) / m_edges, 6))

            all_c = contribs[0]
            for c in contribs[1:]:
                all_c = all_c.unionByName(c)
            dz = (all_c.groupBy("node_id", "dim")
                  .agg(F.sum(_ml(F.col("value"))).alias("_s"))
                  .select("node_id", "dim",
                          (F.col("_s") / (_Q * float(m_edges)))
                          .alias("value")))
            dz = scratch.truncate(dz, "dz")

            # ---- backward -------------------------------------------------
            for k in reversed(range(L)):
                h_in, hn, pre, nrm, out = cache[k]
                dot = (dz.join(out.select("node_id", "dim",
                                          F.col("value").alias("_o")),
                               ["node_id", "dim"])
                       .groupBy("node_id")
                       .agg(F.sum(_ml(F.col("value") * F.col("_o")))
                            .alias("_s"))
                       .select("node_id", (F.col("_s") / _Q).alias("_dot")))
                dpre = (dz.join(out.select("node_id", "dim",
                                           F.col("value").alias("_o")),
                                ["node_id", "dim"])
                        .join(dot, "node_id").join(nrm, "node_id")
                        .join(pre.select("node_id", "dim",
                                         F.col("value").alias("_pre")),
                              ["node_id", "dim"])
                        .select(
                            "node_id", "dim",
                            F.when(
                                (F.col("_pre") > 0) & (F.col("_n") > 0),
                                (F.col("value")
                                 - F.col("_o") * F.col("_dot"))
                                / F.col("_n"))
                            .otherwise(F.lit(0.0)).alias("value")))
                dpre = scratch.truncate(dpre, f"dpre{k}")

                def _wgrad(state_df):
                    cells = (dpre.select("node_id",
                                         F.col("dim").alias("j"),
                                         F.col("value").alias("_d"))
                             .join(state_df.select(
                                 "node_id", F.col("dim").alias("i"),
                                 F.col("value").alias("_h")), "node_id")
                             .groupBy("j", "i")
                             .agg(F.round(F.sum(F.round(
                                 F.col("_d") * F.col("_h") * _QG)
                                 .cast("long")) / _QG, 9).alias("g")))
                    out_g = np.zeros((layer_dims[k + 1], layer_dims[k]))
                    for r in cells.collect():
                        out_g[int(r["j"]), int(r["i"])] = float(r["g"])
                    return out_g

                g_ws = _wgrad(h_in)
                # hn is sparse (nodes without in-edges have no rows) —
                # matching the forward's coalesce-to-0: missing rows
                # contribute 0 to the gradient, so the sparse join is exact
                g_wn = _wgrad(hn)

                if k > 0:
                    w = _weights_df(spark, {"w_self": Ws[k].tolist(),
                                            "w_neigh": Wn[k].tolist()})
                    down = (dpre.select("node_id",
                                        F.col("dim").alias("j"),
                                        F.col("value").alias("_d"))
                            .join(F.broadcast(w), "j"))
                    dself = down.select(
                        "node_id", F.col("i").alias("dim"),
                        (F.col("_d") * F.col("ws")).alias("value"))
                    dn = (down.groupBy("node_id", F.col("i").alias("dim"))
                          .agg(F.sum(_ml(F.col("_d") * F.col("wn")))
                               .alias("_s"))
                          .select("node_id", "dim",
                                  (F.col("_s") / _Q).alias("value")))
                    scat = (edges.join(
                        dn.select(F.col("node_id").alias("dst"), "dim",
                                  F.col("value").alias("_g")), "dst")
                        .join(indeg.select(F.col("node_id").alias("dst"),
                                           "_deg"), "dst")
                        .select(F.col("src").alias("node_id"), "dim",
                                (F.col("_g") / F.col("_deg"))
                                .alias("value")))
                    dz = (dself.unionByName(scat)
                          .groupBy("node_id", "dim")
                          .agg(F.sum(_ml(F.col("value"))).alias("_s"))
                          .select("node_id", "dim",
                                  (F.col("_s") / _Q).alias("value")))
                    dz = scratch.truncate(dz, f"dz{k}")

                Ws[k] = Ws[k] - lr * g_ws
                Wn[k] = Wn[k] - lr * g_wn

        out_w = [{"w_self": Ws[k].tolist(), "w_neigh": Wn[k].tolist()}
                 for k in range(L)]
        if return_history:
            return out_w, history
        return out_w
    finally:
        scratch.cleanup()

