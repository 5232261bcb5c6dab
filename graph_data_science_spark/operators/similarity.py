"""Similarity: GDS nodeSimilarity analog + embedding ANN for training data.

Node similarity (reference: algo/src/main/java/org/neo4j/gds/similarity/
nodesim/NodeSimilarity.java) compares nodes by their OUT-neighbor sets with
Jaccard / Overlap / Cosine, keeping top-k per node above a cutoff; the
reference streams pairs both directions for undirected-style output —
here we emit each scored pair once per source node (node1, node2, similarity).

Embedding similarity over the ``embeddings`` table (vec_id, embedding
array<float/double>, label):
- ``cosine_topk``: exact brute-force top-k. Both sides are packed into
  executor-resident matrix blocks and every (query block × index shard)
  tile runs one NumPy BLAS GEMM inside ``mapInPandas`` — no per-row
  Python, and no matrix ever reaches the driver.
- ``cosine_topk_ivf``: IVF-style approximate variant — deterministic
  centroids (a seeded hash-u01 sample of the id space, robust to sorted
  id layouts), assign every vector to its nearest centroid, search only
  within the query's ``n_probe`` closest clusters. Same GEMM kernel per
  (cluster, batch).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

# ---------------------------------------------------------------------------
# GDS nodeSimilarity analog
# ---------------------------------------------------------------------------

def node_similarity(
    graph,
    top_k: int = 10,
    similarity_cutoff: float = 1e-42,
    degree_cutoff: int = 1,
    metric: str = "JACCARD",
    max_neighbor_frequency: int | str | None = "auto",
    pair_budget: int | None = None,
    source_node_filter=None,
    target_node_filter=None,
) -> DataFrame:
    """``gds.nodeSimilarity`` analog → (node1, node2, similarity).

    metric ∈ {JACCARD, OVERLAP, COSINE(unweighted)}; similarity rounded 6dp.
    Only node pairs sharing ≥1 out-neighbor are scored (the reference's
    inverted-index pruning); top_k per node1 by (similarity DESC, node2 ASC).

    Skew control: the self-join on ``dst`` generates O(d²) candidate pairs
    for a shared neighbor of in-degree d — a 10^6-in-degree hub alone emits
    10^12 pairs. ``max_neighbor_frequency`` (the ``max_shingle_freq`` pattern
    from dedup.py) EXCLUDES shared neighbors hotter than the cap from pair
    generation; intersection counts for pairs that also share such hubs are
    undercounted, which only LOWERS their similarity — a documented
    approximation matching the reference's degree-bound pruning intent
    (nodesim/NodeSimilarity.java upper-bound cutoffs). None = exact.

    The DEFAULT is ``"auto"`` (the 100 TB posture): one aggregation builds
    the shared-neighbor frequency HISTOGRAM (distinct-frequency classes —
    a tiny driver-side table even at 10⁹ edges) giving the exact pair
    volume Σ f·(f−1)/2; if it is within ``pair_budget`` (default
    50·#distinct-neighbors, floor 10⁷) the plan stays EXACT (cap off —
    small/medium graphs, and the correctness gate, are untouched);
    otherwise the cap is the LARGEST frequency whose cumulative pair
    volume fits the budget, so exactly the hottest classes that emit the
    quadratic bulk are pruned and everything the budget affords is kept.

    ``source_node_filter`` / ``target_node_filter``: the filtered-variant
    surface (``gds.nodeSimilarity.filtered``) — SQL predicate strings over
    ``node_id`` applied to node1/node2 respectively, e.g. ``"node_id < 100"``.
    """
    nbrs = graph.edges.select("src", "dst").distinct()
    sizes = nbrs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ok = sizes.where(F.col("deg") >= int(degree_cutoff))
    nbrs = nbrs.join(ok.select("src"), "src", "left_semi")

    freq = None
    if max_neighbor_frequency == "auto":
        # persisted only for the duration of this planning step (histogram
        # collect); released before returning — never pinned into the plan
        freq = nbrs.groupBy("dst").agg(F.count(F.lit(1)).alias("_f")).persist()
        hist = sorted(
            (int(r["_f"]), int(r["cnt"])) for r in
            freq.groupBy("_f").agg(F.count(F.lit(1)).alias("cnt")).collect())
        n_dsts = sum(c for _, c in hist)
        total_pairs = sum(c * f * (f - 1) // 2 for f, c in hist)
        budget = pair_budget if pair_budget is not None else max(
            10_000_000, 50 * n_dsts)
        if total_pairs <= budget:
            max_neighbor_frequency = None  # exact — volume is affordable
            freq.unpersist()  # no downstream use on the exact path
            freq = None
        else:
            # largest frequency class whose cumulative volume still fits;
            # if even the SMALLEST class alone blows the budget, keep that
            # class anyway (best-effort) — a cap below every observed
            # frequency would silently return zero pairs
            cum, cap = 0, None
            for f, c in hist:
                cum += c * f * (f - 1) // 2
                if cum > budget:
                    break
                cap = f
            max_neighbor_frequency = cap if cap is not None else hist[0][0]

    pair_nbrs = nbrs
    if max_neighbor_frequency is not None:
        if freq is not None:
            # release the histogram cache: the returned plan must not pin a
            # per-call cached table (the round-1 persist-leak class). The
            # cool filter below re-derives the aggregation lazily inside the
            # main query — one extra agg, dwarfed by the pair join it guards.
            freq.unpersist()
        lazy_freq = nbrs.groupBy("dst").agg(F.count(F.lit(1)).alias("_f"))
        cool = lazy_freq.where(
            F.col("_f") <= int(max_neighbor_frequency)).select("dst")
        pair_nbrs = nbrs.join(cool, "dst", "left_semi")

    inter = (
        pair_nbrs.alias("x")
        .join(pair_nbrs.alias("y"), "dst")
        .where(F.col("x.src") != F.col("y.src"))
        .groupBy(F.col("x.src").alias("node1"), F.col("y.src").alias("node2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    for flt, col in ((source_node_filter, "node1"), (target_node_filter, "node2")):
        if flt is not None:
            inter = (inter.withColumn("node_id", F.col(col))
                     .where(F.expr(flt)).drop("node_id"))
    withs = (
        inter.join(ok.select(F.col("src").alias("node1"), F.col("deg").alias("d1")), "node1")
        .join(ok.select(F.col("src").alias("node2"), F.col("deg").alias("d2")), "node2")
    )
    m = metric.upper()
    if m == "JACCARD":
        sim = F.col("inter") / (F.col("d1") + F.col("d2") - F.col("inter"))
    elif m == "OVERLAP":
        sim = F.col("inter") / F.least("d1", "d2")
    elif m == "COSINE":
        sim = F.col("inter") / F.sqrt(F.col("d1") * F.col("d2"))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    scored = withs.select("node1", "node2", F.round(sim, 6).alias("similarity")).where(
        F.col("similarity") >= similarity_cutoff
    )
    w = Window.partitionBy("node1").orderBy(F.desc("similarity"), F.asc("node2"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(top_k))
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Embedding ANN
# ---------------------------------------------------------------------------

def _collect_matrix(vecs: DataFrame, id_col: str, vec_col: str):
    pdf = vecs.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy("int64")
    mat = np.asarray([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return ids, mat, norms


def _pack_side(vecs: DataFrame, id_col: str, vec_col: str, n_blocks: int,
               block_col: str) -> DataFrame:
    """Group vectors into ``n_blocks`` deterministic blocks (pmod on id) and
    pack each block into ONE row carrying (ids int64, row-normalized matrix
    float64, both pickled). Block payloads stay on executors — this is the
    distributed replacement for collecting an index matrix to the driver."""
    import pickle

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy("int64")
        mat = np.asarray([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat = mat / norms[:, None]
        return pd.DataFrame({
            block_col: [int(pdf[block_col].iloc[0])],
            "_ids": [pickle.dumps(ids)],
            "_mat": [pickle.dumps(mat)],
        })

    blocked = vecs.select(
        F.pmod(F.col(id_col), F.lit(int(n_blocks))).cast("long").alias(block_col),
        id_col, vec_col,
    )
    return blocked.groupBy(block_col).applyInPandas(
        pack, schema=f"{block_col} long, _ids binary, _mat binary")


def cosine_topk(
    vecs: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
    index_shards: int | None = None,
    query_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine top-k self-join → (vec_id, neighbor_id, cosine), self
    excluded, ranked (cosine DESC, neighbor_id ASC), rounded 6dp.

    Both sides are packed into executor-resident matrix blocks — index into
    ``index_shards`` shards, queries into ``query_blocks`` blocks
    (deterministic pmod on id) — then every (query block × index shard)
    tile runs one BLAS GEMM inside ``mapInPandas`` and emits a per-shard
    partial top-k; a final window takes the global top-k per query. Nothing
    is collected to the driver, and tile size is bounded by
    (rows/blocks × dim × 8 B) regardless of corpus size. Block counts
    default to the session parallelism; at scale size them so a tile fits
    executor memory (e.g. 64 MB blocks).

    Ranking is on the 6dp-ROUNDED cosine (ties → smaller neighbor id), so
    any engine recomputing with a different summation order ranks
    identically — the cross-engine contract.
    """
    import pickle

    spark = vecs.sparkSession
    par = spark.sparkContext.defaultParallelism
    n_shards = int(index_shards or par)
    n_qblocks = int(query_blocks or par)
    kk = int(k)

    index_packed = _pack_side(vecs, id_col, vec_col, n_shards, "_shard").select(
        "_shard", F.col("_ids").alias("_iids"), F.col("_mat").alias("_imat"))
    q = queries if queries is not None else vecs
    query_packed = _pack_side(q, id_col, vec_col, n_qblocks, "_qblock").select(
        "_qblock", F.col("_ids").alias("_qids"), F.col("_mat").alias("_qmat"))

    # every (query block × index shard) tile: Q×S small rows; payloads move
    # executor→executor once, the driver never sees a matrix
    tiles = query_packed.crossJoin(index_packed).repartition(
        max(n_shards, par), "_qblock", "_shard")

    def gemm_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in range(len(pdf)):
                row_r = pdf.iloc[r]
                qids = pickle.loads(row_r["_qids"])
                qmat = pickle.loads(row_r["_qmat"])
                iids = pickle.loads(row_r["_iids"])
                imat = pickle.loads(row_r["_imat"])
                sims = np.round(qmat @ imat.T, 6)  # (q_rows, i_rows); 1 GEMM
                out_q, out_i, out_c = [], [], []
                for qi in range(sims.shape[0]):
                    srow = sims[qi]
                    self_mask = iids == qids[qi]
                    srow = np.where(self_mask, -np.inf, srow)
                    take = min(kk, srow.size - int(self_mask.sum()))
                    if take <= 0:
                        continue
                    idx = np.lexsort((iids, -srow))[:take]  # shard-local top-k
                    out_q.append(np.repeat(qids[qi], take))
                    out_i.append(iids[idx])
                    out_c.append(srow[idx])
                if out_q:
                    yield pd.DataFrame({
                        "vec_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_i),
                        "cosine": np.concatenate(out_c),
                    })

    partial = tiles.mapInPandas(
        gemm_tiles, schema="vec_id long, neighbor_id long, cosine double")
    # global top-k over ≤ k × n_shards partials per query — rank on the same
    # rounded cosine / smaller-neighbor tie order as the shard-local pass
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= kk)
        .drop("_rn")
    )


def knn(
    graph,
    node_properties: list[str] | str,
    top_k: int = 10,
    similarity_cutoff: float = 0.0,
    source_node_filter: str | None = None,
    target_node_filter: str | None = None,
    method: str = "exact",
    max_iterations: int = 10,
    seed: int = 42,
    auto_threshold: int = 200_000,
) -> DataFrame:
    """``gds.knn`` analog: k nearest neighbors by node-property similarity
    → (node1, node2, similarity).

    Scalar properties are assembled into a vector; an array property is used
    as-is; similarity = cosine.

    ``method="exact"`` (default): the tiled GEMM kernel (:func:`cosine_topk`
    — executor-resident matrix blocks, nothing on the driver). Exact, but
    O(n²) dot products: the right plan up to ~10⁷ vectors.
    ``method="nn_descent"``: the reference's own approximate algorithm
    (similarity/knn/Knn.java:51) via :func:`knn_nn_descent` — O(n·k²) per
    round, the 10⁹-vector plan. Filters run the reference's filtered-knn
    design (filteredknn/FilteredKnn.java): the descent is unfiltered, a
    target-only top-k list rides the state, and only source-filter nodes
    emit rows.
    ``method="auto"``: exact below ``auto_threshold`` vectors (the n²
    kernel is cheaper than descent rounds there and exact beats
    approximate at equal cost), nn-descent at or above it — the same
    size-gated posture as ``node_similarity``'s
    ``max_neighbor_frequency="auto"``. Recall stays ≥ 0.9 by the
    nn-descent contract; the switch only ever moves the larger inputs
    onto the subquadratic path.
    """
    if isinstance(node_properties, str):
        node_properties = [node_properties]
    nodes = graph.nodes
    from pyspark.sql.types import ArrayType

    if len(node_properties) == 1 and isinstance(
        nodes.schema[node_properties[0]].dataType, ArrayType
    ):
        vec = F.col(node_properties[0]).cast("array<double>")
    else:
        vec = F.array(*[F.col(p).cast("double") for p in node_properties])
    vecs = nodes.select(F.col("node_id").alias("vec_id"), vec.alias("embedding"))
    if method == "auto":
        # one cheap count decides the posture; the threshold is the point
        # where n² dot products outgrow O(n·k²·rounds) on this kernel
        method = ("nn_descent" if vecs.count() >= int(auto_threshold)
                  else "exact")
    if method == "nn_descent":
        src_df = (nodes.where(F.expr(source_node_filter)).select("node_id")
                  if source_node_filter is not None else None)
        tgt_df = (nodes.where(F.expr(target_node_filter)).select("node_id")
                  if target_node_filter is not None else None)
        out = knn_nn_descent(vecs, k=top_k, max_iterations=max_iterations,
                             seed=seed, source_ids=src_df, target_ids=tgt_df)
        return out.select(
            F.col("vec_id").alias("node1"),
            F.col("neighbor_id").alias("node2"),
            F.col("cosine").alias("similarity"),
        ).where(F.col("similarity") >= similarity_cutoff)
    if method != "exact":
        raise ValueError(f"unknown method {method!r}")
    # filtered variant (gds.knn.filtered): sourceNodeFilter restricts the
    # query side, targetNodeFilter restricts the candidate INDEX before
    # ranking (top-k is taken among allowed targets, matching the reference)
    index_df = vecs
    queries_df = vecs
    if target_node_filter is not None:
        index_df = vecs.join(
            nodes.where(F.expr(target_node_filter)).select(
                F.col("node_id").alias("vec_id")), "vec_id", "left_semi")
    if source_node_filter is not None:
        queries_df = vecs.join(
            nodes.where(F.expr(source_node_filter)).select(
                F.col("node_id").alias("vec_id")), "vec_id", "left_semi")
    out = cosine_topk(index_df, k=top_k, queries=queries_df)
    return out.select(
        F.col("vec_id").alias("node1"),
        F.col("neighbor_id").alias("node2"),
        F.col("cosine").alias("similarity"),
    ).where(F.col("similarity") >= similarity_cutoff)


def cosine_topk_ivf(
    vecs: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF-bucketed approximate cosine top-k (same output schema as
    :func:`cosine_topk`). Deterministic centroids: the ``n_clusters``
    vectors with smallest hash-u01(id, seed) — a uniform sample of the id
    space (robust to sorted/clustered id layouts, unlike first-n-by-id).
    Recall < 1 by construction; tested against the exact kernel for
    recall ≥ threshold, not equality."""
    from graph_data_science_spark.operators.embeddings import _u01

    spark = vecs.sparkSession
    cents = vecs.orderBy(
        _u01(F.col(id_col), F.lit("ivfseed"), F.lit(int(seed))),
        F.col(id_col)).limit(int(n_clusters))
    c_ids, c_mat, c_norms = _collect_matrix(cents, id_col, vec_col)
    b_cent = spark.sparkContext.broadcast(c_mat / c_norms[:, None])
    probe = int(n_probe)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cmat = b_cent.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.asarray([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
            n = np.linalg.norm(m, axis=1)
            n[n == 0] = 1.0
            sims = (m / n[:, None]) @ cmat.T
            # own cluster for the index side; n_probe closest for query side
            own = np.argmax(sims, axis=1)
            probes = np.argsort(-sims, axis=1)[:, :probe]
            out = pd.DataFrame({
                id_col: pdf[id_col].to_numpy("int64"),
                "own_cluster": own.astype("int64"),
            })
            out["probe_clusters"] = [p.astype("int64").tolist() for p in probes]
            yield out

    clusters = vecs.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, own_cluster long, probe_clusters array<long>"
    )
    enriched = vecs.join(clusters, id_col)

    # index side grouped by own cluster; query probes its n_probe clusters
    index_side = enriched.select(
        F.col("own_cluster").alias("cluster"), F.col(id_col).alias("_iid"),
        F.col(vec_col).alias("_ivec"),
    )
    query_side = enriched.select(
        F.col(id_col), F.col(vec_col), F.explode("probe_clusters").alias("cluster")
    )
    joined = query_side.join(index_side, "cluster").where(F.col(id_col) != F.col("_iid"))

    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_ivec"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    nq = F.sqrt(F.aggregate(F.transform(F.col(vec_col), lambda a: a * a),
                            F.lit(0.0), lambda acc, x: acc + x))
    ni = F.sqrt(F.aggregate(F.transform(F.col("_ivec"), lambda a: a * a),
                            F.lit(0.0), lambda acc, x: acc + x))
    scored = joined.select(
        F.col(id_col).alias("vec_id"),
        F.col("_iid").alias("neighbor_id"),
        F.round(dot / (nq * ni), 6).alias("cosine"),
    ).dropDuplicates(["vec_id", "neighbor_id"])
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# NN-descent: the reference's approximate KNN (similarity/knn/Knn.java:51)
# ---------------------------------------------------------------------------

def knn_nn_descent(
    vecs: DataFrame,
    k: int = 10,
    max_iterations: int = 10,
    sample_rate: float = 0.5,
    delta_threshold: float = 0.001,
    random_joins: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    source_ids: DataFrame | None = None,
    target_ids: DataFrame | None = None,
) -> DataFrame:
    """NN-descent approximate cosine top-k → (vec_id, neighbor_id, cosine).

    The reference's KNN is NOT exact: it runs Dong et al.'s NN-descent
    (similarity/knn/Knn.java:51, config knobs KnnBaseConfig.java:48-94 —
    sampleRate 0.5, deltaThreshold 0.001, randomJoins, maxIterations).
    This is the same algorithm as one Catalyst plan per round:

    - init: every node draws k deterministic hash-random neighbor candidates
      (``u01(id, slot, seed)`` → rank over n) — the reference's
      GenerateRandomNeighbors step;
    - per round, the candidate set is the classic neighbor-of-neighbor local
      join: current lists symmetrized (u→v ∪ v→u), then self-joined on the
      shared endpoint — "my neighbor's neighbors are my candidates" — plus
      ``random_joins`` fresh hash-random candidates per node (escape hatch,
      reference randomJoins);
    - candidates are scored with a JVM-side ``zip_with``/``aggregate`` dot
      product (no Python in the hot path), unioned with the incumbent
      lists, and re-ranked to top-k per node (window on rounded cosine,
      ties → smaller neighbor id);
    - convergence: stop when the fraction of list entries that changed in a
      round ≤ ``delta_threshold`` (reference deltaThreshold), read from the
      previous round's Observation — zero extra jobs.

    Scale shape: each round is O(n·k²) candidate pairs — NOT O(n²) — with
    two shuffle joins to attach vectors and one window; candidate
    generation shuffles on node id, so hot nodes can't blow up (lists are
    capped at k). ``sample_rate`` thins the neighbor-of-neighbor join on
    one side, cutting a round to O(n·k²·rate) (reference sampledListSize).
    Output is approximate by contract; tests assert recall ≥ 0.9 against
    the exact tiled GEMM at small scale.

    Filtered variant (the reference's ``gds.knn.filtered``,
    filteredknn/FilteredKnn.java): the descent itself runs UNfiltered —
    every node participates, exactly like the reference's unmodified Knn
    delegate — while a second per-node list (``tnbrs``) rides the state
    and accumulates the top-k among the TARGET-passing candidates each
    round ever scores (TargetNodeFiltering.java: every considered
    neighbour is offered to a per-node target-filter consumer). The
    target list is additionally seeded with hash-random candidates drawn
    from the target set (the reference's optional default seeding,
    FilteredKnn.createWithDefaultSeeding), so a sparse target set still
    fills its lists. Output rows come from ``tnbrs`` restricted to
    ``source_ids`` (FilteredKnn.java streamSimilarityResult: only
    source-filter nodes emit). Both filters are id DataFrames (first
    column = node id); semi-joins keep them scale-safe — nothing is
    collected, and a billion-row target set shuffles like any dimension.
    """
    from graph_data_science_spark.operators.embeddings import _u01
    from graph_data_science_spark.plans.pregel import ACTIVE_COL, Pregel

    spark = vecs.sparkSession
    kk = int(k)
    v = vecs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
    # pre-normalize once: cosine = dot of unit vectors
    norm = F.sqrt(F.aggregate(F.transform(F.col("_vec"), lambda a: a * a),
                              F.lit(0.0), lambda acc, x: acc + x))
    unit = v.select(
        "_id",
        F.transform(F.col("_vec"),
                    lambda a: a / F.when(norm == 0, F.lit(1.0)).otherwise(norm)
                    ).alias("_vec"),
    ).persist()
    n = unit.count()
    ids = unit.select(F.col("_id"))
    tgt = None
    if target_ids is not None:
        tgt = (target_ids.select(
            F.col(target_ids.columns[0]).cast("long").alias("c"))
            .dropDuplicates(["c"]).persist())
        n_t = max(1, tgt.count())

    def _score(cand: DataFrame) -> DataFrame:
        """(u, c) pairs → (u, c, cosine) via two vector joins + zip_with."""
        a = unit.select(F.col("_id").alias("u"), F.col("_vec").alias("_va"))
        b = unit.select(F.col("_id").alias("c"), F.col("_vec").alias("_vb"))
        dot = F.aggregate(
            F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)
        return (cand.join(a, "u").join(b, "c")
                .select("u", "c", F.round(dot, 6).alias("s")))

    def _rand_cands(slots: int, tag: str, pool: DataFrame | None = None,
                    pool_n: int | None = None) -> DataFrame:
        """~slots deterministic hash-random candidate ids per node via a
        BUCKET join (scale-safe — no global sort/window): every candidate id
        hashes into one of n buckets per round tag; each (node, slot) draws
        a bucket. Bucket occupancy is ~Poisson(1), so a node receives about
        ``slots`` candidates (the variance is immaterial — NN-descent's
        local join dominates after round 1). ``pool`` (ids in a column
        named ``c``) restricts the candidate universe — used to seed the
        filtered variant's target lists."""
        pn = int(pool_n) if pool is not None else n
        cand_ids = (pool.select("c") if pool is not None
                    else ids.select(F.col("_id").alias("c")))
        tagged = ids.select(
            F.col("_id").alias("u"),
            F.explode(F.array(*[F.lit(i) for i in range(slots)])).alias("_slot"))
        bucketed = cand_ids.select(
            "c",
            F.pmod(F.hash(F.col("c"), F.lit(tag), F.lit(int(seed))),
                   F.lit(pn)).alias("_bk"))
        pick = tagged.select(
            "u",
            F.pmod(F.hash(F.col("u"), F.col("_slot"), F.lit(tag),
                          F.lit(int(seed) + 7)), F.lit(pn)).alias("_bk"))
        return pick.join(bucketed, "_bk").where(F.col("u") != F.col("c")) \
            .select("u", "c")

    # ---- init: k random candidates per node, scored and ranked -------------
    w_rank = Window.partitionBy("u").orderBy(F.desc("s"), F.asc("c"))
    init_pairs = _score(_rand_cands(kk + 2, "init").dropDuplicates(["u", "c"]))
    init_lists = (init_pairs.withColumn("_rn", F.row_number().over(w_rank))
                  .where(F.col("_rn") <= kk)
                  .groupBy("u")
                  .agg(F.array_sort(F.collect_list(
                      F.struct(F.col("c"), F.col("s")))).alias("nbrs")))
    empty_list = F.array().cast("array<struct<c:bigint,s:double>>")
    state0 = (ids.select(F.col("_id").alias("u"))
              .join(init_lists, "u", "left")
              .select("u", F.coalesce("nbrs", empty_list).alias("nbrs"),
                      F.lit(1).cast("int").alias(ACTIVE_COL)))
    if tgt is not None:
        # seed the target lists: init candidates that pass the filter plus
        # fresh hash-random draws FROM the target pool (the reference's
        # default seeding — a sparse target set still fills its lists)
        t_seed = _score(
            _rand_cands(kk + 2, "tinit", pool=tgt, pool_n=n_t)
            .dropDuplicates(["u", "c"]))
        t_pairs = (init_pairs.join(tgt, "c", "left_semi")
                   .unionByName(t_seed).dropDuplicates(["u", "c"]))
        t_lists = (t_pairs.withColumn("_rn", F.row_number().over(w_rank))
                   .where(F.col("_rn") <= kk)
                   .groupBy("u")
                   .agg(F.array_sort(F.collect_list(
                       F.struct(F.col("c"), F.col("s")))).alias("tnbrs")))
        state0 = (state0.join(t_lists, "u", "left")
                  .select("u", "nbrs",
                          F.coalesce("tnbrs", empty_list).alias("tnbrs"),
                          ACTIVE_COL))

    driver = Pregel(
        spark, max_iterations=int(max_iterations),
        # reads the previous superstep's `active` count for the reference's
        # delta convergence rule — needs per-superstep materialization
        fuse=1,
        manifest={"algorithm": "knn_nn_descent", "k": kk, "seed": int(seed)})

    carry = ["nbrs"] if tgt is None else ["nbrs", "tnbrs"]

    def step(st: DataFrame, superstep: int) -> DataFrame:
        hist = driver.metrics_so_far
        if hist and hist[-1]["active"] <= delta_threshold * n:
            # converged under the reference's delta rule: silence everyone
            return st.select("u", *carry,
                             F.lit(0).cast("int").alias(ACTIVE_COL))
        cur = st.select("u", F.explode("nbrs").alias("_e")) \
            .select("u", F.col("_e.c").alias("c"))
        # symmetrize, then neighbor-of-neighbor local join; sample one side
        sym = cur.unionByName(
            cur.select(F.col("c").alias("u"), F.col("u").alias("c")))
        sampled = sym.where(
            _u01(F.col("u"), F.col("c"), F.lit("smp"),
                 F.lit(superstep), F.lit(int(seed))) < float(sample_rate))
        nn = (sym.select(F.col("u").alias("_j"), F.col("c").alias("u"))
              .join(sampled.select(F.col("u").alias("_j"), "c"), "_j")
              .select("u", "c").where(F.col("u") != F.col("c")))
        cands = nn.unionByName(
            _rand_cands(int(random_joins), f"rj{superstep}"))
        # drop candidates already in the incumbent list, then score fresh ones
        fresh = cands.dropDuplicates(["u", "c"]).join(
            cur, ["u", "c"], "left_anti")
        scored = _score(fresh)
        merged = scored.unionByName(
            st.select("u", F.explode("nbrs").alias("_e"))
            .select("u", F.col("_e.c").alias("c"), F.col("_e.s").alias("s")))
        new_lists = (merged.withColumn("_rn", F.row_number().over(w_rank))
                     .where(F.col("_rn") <= kk)
                     .groupBy("u")
                     .agg(F.array_sort(F.collect_list(
                         F.struct(F.col("c"), F.col("s")))).alias("nbrs2")))
        out = st.join(new_lists, "u", "left")
        if tgt is not None:
            # offer every freshly-scored pair to the per-node target list
            # (TargetNodeFiltering.java: the consumer sees each considered
            # neighbour), merge with the incumbents, re-rank to top-k
            t_merged = (scored.join(tgt, "c", "left_semi").unionByName(
                st.select("u", F.explode("tnbrs").alias("_e"))
                .select("u", F.col("_e.c").alias("c"),
                        F.col("_e.s").alias("s"))).dropDuplicates(["u", "c"]))
            t_lists = (t_merged.withColumn("_rn", F.row_number().over(w_rank))
                       .where(F.col("_rn") <= kk)
                       .groupBy("u")
                       .agg(F.array_sort(F.collect_list(
                           F.struct(F.col("c"), F.col("s")))).alias("tnbrs2")))
            out = out.join(t_lists, "u", "left")
        sel = [
            "u",
            F.coalesce("nbrs2", "nbrs").alias("nbrs"),
            *([F.coalesce("tnbrs2", "tnbrs").alias("tnbrs")]
              if tgt is not None else []),
            (F.coalesce("nbrs2", "nbrs") != F.col("nbrs"))
            .cast("int").alias(ACTIVE_COL),
        ]
        return out.select(*sel)

    res = driver.run(state0, step)
    unit.unpersist()
    out_src = res.state
    if source_ids is not None:
        src = source_ids.select(
            F.col(source_ids.columns[0]).cast("long").alias("u"))
        out_src = out_src.join(src.dropDuplicates(["u"]), "u", "left_semi")
    out = (out_src
           .select("u", F.explode("tnbrs" if tgt is not None else "nbrs")
                   .alias("_e"))
           .select(F.col("u").alias("vec_id"),
                   F.col("_e.c").alias("neighbor_id"),
                   F.col("_e.s").alias("cosine")))
    if tgt is not None:
        tgt.unpersist()
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= kk).drop("_rn"))
