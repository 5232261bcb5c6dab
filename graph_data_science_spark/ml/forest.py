"""Random forest classifier: distributed histogram-based tree growing.

Reference analog: ml/ml-core/src/main/java/org/neo4j/gds/ml/models/
randomforest/RandomForestClassifierTrainer.java (+ DecisionTreeTrainer.java)
— the second classifier the reference's pipelines offer next to logistic
regression.

Spark-first design (the classic distributed-histogram formulation, as in
Spark MLlib's RandomForest — NOT a per-worker in-memory sort): trees grow
BREADTH-FIRST, one distributed aggregation per depth level for the whole
forest:

1. features are discretized once into ``n_bins`` equi-width bins (min/max
   from one pass) — after this the training data never moves again; each
   row carries its per-tree current tree-node id.
2. per level: ``groupBy(tree, node, feature, bin) → per-class counts`` —
   ONE partial-aggregated shuffle whose size is bounded by
   trees × open-nodes × d × bins × classes, independent of row count.
3. the driver scans each (tree, node) histogram (tiny) for the best
   gini-gain split over that node's hash-chosen feature subset
   (√d features, the RF default) and broadcasts the split table back;
   rows re-assign ``node ← 2·node + (bin > threshold)`` via a broadcast
   join. Driver state = the tree structure only.

Determinism (the engine-wide contract): bagging is a hash subsample
(``u01(id, tree, seed) < subsample`` — documented stand-in for bootstrap
resampling-with-replacement, same expectation, reproducible at any
parallelism), per-node feature subsets are hash-ranked, ties in splits and
votes break toward the smaller feature/bin/class. No RNG state anywhere.

Prediction walks all trees simultaneously: one broadcast join per depth
level against the split table, then majority vote (tie → smaller class).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.operators.embeddings import _u01
from graph_data_science_spark.operators.graphsage import _py_u01
from graph_data_science_spark.plans.loop_state import Scratch


@dataclass
class RandomForestModel:
    n_features: int
    n_classes: int
    n_bins: int
    mins: list[float]
    steps: list[float]  # per-feature bin width (0 → constant feature)
    # (tree, node) → ("split", feature, threshold_bin) | ("leaf", class)
    splits: dict = field(default_factory=dict)


def _binned(df: DataFrame, mins: list[float], steps: list[float],
            n_bins: int) -> DataFrame:
    """Add `bins` array<int>: per-feature equi-width bin index."""
    d = len(mins)
    cols = []
    for i in range(d):
        if steps[i] <= 0:
            cols.append(F.lit(0))
        else:
            raw = F.floor((F.element_at("x", i + 1) - F.lit(mins[i]))
                          / F.lit(steps[i])).cast("int")
            cols.append(F.least(F.greatest(raw, F.lit(0)),
                                F.lit(n_bins - 1)))
    return df.withColumn("bins", F.array(*cols))


def _gini(counts: list[float]) -> float:
    tot = sum(counts)
    if tot <= 0:
        return 0.0
    return 1.0 - sum((c / tot) ** 2 for c in counts)


def random_forest_fit(
    examples: DataFrame,  # (id, x array<double>, y int)
    n_trees: int = 8,
    max_depth: int = 4,
    n_bins: int = 16,
    subsample: float = 0.8,
    min_split_size: int = 2,
    seed: int = 42,
) -> RandomForestModel:
    spark = examples.sparkSession
    ex = examples.select(F.col("id"), F.col("x"),
                         F.col("y").cast("int").alias("y"))
    d = len(ex.select("x").first()["x"])
    n_classes = int(ex.agg(F.max("y")).first()[0]) + 1
    stats = ex.select(*[F.min(F.element_at("x", i + 1)).alias(f"lo{i}")
                        for i in range(d)],
                      *[F.max(F.element_at("x", i + 1)).alias(f"hi{i}")
                        for i in range(d)],
                      F.count(F.lit(1)).alias("_n")).first()
    mins = [float(stats[f"lo{i}"]) for i in range(d)]
    steps = [(float(stats[f"hi{i}"]) - mins[i]) / n_bins for i in range(d)]

    model = RandomForestModel(d, n_classes, n_bins, mins, steps)
    k_feats = max(1, int(math.isqrt(d)))

    binned = _binned(ex, mins, steps, n_bins)
    trees = spark.range(n_trees).select(F.col("id").cast("int").alias("tree"))
    # bagging: deterministic hash subsample per (row, tree)
    state = (binned.crossJoin(F.broadcast(trees))
             .where(_u01(F.col("id"), F.col("tree"), F.lit("bag"),
                         F.lit(int(seed))) < float(subsample))
             .select("tree", F.lit(1).alias("node"), "bins", "y"))
    scratch = Scratch(spark)
    try:
        # bagging keeps at most every (row, tree) pair: a free size bound
        state = scratch.truncate(state, "state",
                                 rows_hint=int(stats["_n"]) * n_trees)

        open_nodes = {(t, 1) for t in range(n_trees)}
        for depth in range(max_depth + 1):
            if not open_nodes:
                break
            hist_rows = (
                state
                .select("tree", "node", "y",
                        F.posexplode("bins").alias("feature", "bin"))
                .groupBy("tree", "node", "feature", "bin", "y")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect())
            # (tree, node) → feature → bin → class counts
            hists: dict = {}
            for r in hist_rows:
                key = (r["tree"], r["node"])
                if key not in open_nodes:
                    continue
                hists.setdefault(key, {}).setdefault(
                    r["feature"], {}).setdefault(r["bin"],
                                                 [0.0] * n_classes)[r["y"]] += r["c"]
            new_splits = {}
            next_open = set()
            for key in sorted(hists):
                t, node = key
                feat_hists = hists[key]
                # total class counts at this node (feature 0 covers every row)
                totals = [0.0] * n_classes
                for bins in feat_hists.get(0, {}).values():
                    for c in range(n_classes):
                        totals[c] += bins[c]
                n_node = sum(totals)
                majority = max(range(n_classes), key=lambda c: (totals[c], -c))
                parent_gini = _gini(totals)
                best = None  # (gain, feature, thr_bin)
                if depth < max_depth and n_node >= min_split_size \
                        and parent_gini > 0:
                    allowed = sorted(
                        range(d),
                        key=lambda f: (_py_u01("rf-feat", t, node, f, seed), f)
                    )[:k_feats]
                    for f in sorted(allowed):
                        per_bin = feat_hists.get(f, {})
                        left = [0.0] * n_classes
                        n_left = 0.0
                        for b in range(n_bins - 1):
                            for c in range(n_classes):
                                left[c] += per_bin.get(b, [0.0] * n_classes)[c]
                            n_left = sum(left)
                            n_right = n_node - n_left
                            if n_left == 0 or n_right == 0:
                                continue
                            right = [totals[c] - left[c] for c in range(n_classes)]
                            gain = parent_gini - (
                                n_left / n_node * _gini(left)
                                + n_right / n_node * _gini(right))
                            cand = (round(gain, 12), -f, -b)
                            if gain > 1e-12 and (best is None or cand > best[0]):
                                best = (cand, f, b)
                if best is None:
                    model.splits[key] = ("leaf", majority)
                else:
                    _, f, b = best
                    model.splits[key] = ("split", f, b)
                    new_splits[key] = (f, b)
                    next_open.add((t, 2 * node))
                    next_open.add((t, 2 * node + 1))
            open_nodes = next_open
            if new_splits:
                sp = spark.createDataFrame(
                    [(t, n, f, b) for (t, n), (f, b) in new_splits.items()],
                    "tree int, node int, _f int, _b int")
                state = (state.join(F.broadcast(sp), ["tree", "node"], "inner")
                         .select("tree",
                                 (F.col("node") * 2
                                  + (F.element_at("bins", F.col("_f") + 1)
                                     > F.col("_b")).cast("int")).alias("node"),
                                 "bins", "y"))
                state = scratch.truncate(state, "state")
            else:
                break
    finally:
        scratch.cleanup()  # the model is driver-side; no level's state stays
    return model


def random_forest_predict(df: DataFrame, model: RandomForestModel,
                          out: str = "predicted") -> DataFrame:
    """Score (.., x) rows: walk every tree via broadcast split-table joins,
    majority vote across trees (tie → smaller class)."""
    spark = df.sparkSession
    n_trees = max(t for t, _ in model.splits) + 1
    binned = _binned(df, model.mins, model.steps, model.n_bins)
    trees = spark.range(n_trees).select(F.col("id").cast("int").alias("tree"))
    cur = binned.crossJoin(F.broadcast(trees)) \
        .withColumn("node", F.lit(1))
    split_rows = [(t, n, v[1], v[2]) for (t, n), v in model.splits.items()
                  if v[0] == "split"]
    leaf_rows = [(t, n, v[1]) for (t, n), v in model.splits.items()
                 if v[0] == "leaf"]
    leaves = F.broadcast(spark.createDataFrame(
        leaf_rows, "tree int, node int, _cls int"))
    if split_rows:
        sp = F.broadcast(spark.createDataFrame(
            split_rows, "tree int, node int, _f int, _b int"))
        depth = max(int(math.log2(n)) for _, n, _ in leaf_rows)
        for _ in range(depth):
            cur = (cur.join(sp, ["tree", "node"], "left")
                   .withColumn(
                       "node",
                       F.when(F.col("_f").isNotNull(),
                              F.col("node") * 2
                              + (F.element_at("bins", F.col("_f") + 1)
                                 > F.col("_b")).cast("int"))
                       .otherwise(F.col("node")))
                   .drop("_f", "_b"))
    votes = (cur.join(leaves, ["tree", "node"], "inner")
             .drop("tree", "node", "bins"))
    keys = [c for c in df.columns if c != "x"]
    # group votes per class first, then take (max count, min class)
    agg = (votes.groupBy(*[F.col(c) for c in keys] + [F.col("_cls")])
           .agg(F.count(F.lit(1)).alias("_n"))
           .groupBy(*keys)
           .agg(F.min(F.struct((-F.col("_n")).alias("_neg"),
                               F.col("_cls").alias("c"))).alias("_best")))
    out_df = agg.withColumn(out, F.col("_best.c")).drop("_best")
    return df.drop("x").join(out_df, keys, "left")
