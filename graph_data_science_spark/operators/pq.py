"""Product quantization (PQ) — compressed embeddings + asymmetric-distance
top-k, the billion-vector ANN path.

Reference context: the reference's KNN (similarity/knn/Knn.java:51) is an
approximate-neighbor contract over node properties; at 10^9+ vectors the
standard industrial answer (Jégou/Douze/Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — public literature) is PQ: split each
d-dim vector into ``m`` subvectors, k-means each subspace independently
(k ≤ 256 centroids → one byte per subspace), and answer queries with
asymmetric distance computation (ADC): one m×k lookup table per query,
approx dist(q, x) = Σ_j table[j, code_j(x)]. A 64-dim float32 vector
becomes m bytes — 16-64× less scan volume, and the query never touches the
original vectors.

Engine design (Spark-first, all Catalyst — no Python in any hot path):

- ``pq_train``: the same deterministic long-format Lloyd as
  ``clustering.kmeans`` (hash-u01 seeded sample init, per-iteration
  ROUND(·,6) on distances and centroid means — the cross-engine float
  contract), generalized with a ``sub`` (subspace) key so all ``m``
  subspace k-means run in ONE plan per iteration: one broadcast join
  against the (sub, cluster, sdim) centroid table + two partial aggs.
  Training at 100 TB runs on a deterministic hash SAMPLE
  (``sample_fraction`` — classic PQ practice trains codebooks on ~10^5-10^6
  vectors); the full-corpus pass is ``pq_encode``, a single linear scan.
- ``pq_encode``: fresh assignment of every vector against the final
  codebook — broadcast join + argmin per (id, sub), collected to a
  ``codes`` array ordered by subspace. Linear, shuffle = one groupBy(id).
- ``pq_topk``: ADC. Query tables (query × sub × cluster) are tiny
  (Q·m·k rows) and broadcast; scanning the codes table costs an m-fold
  explode + one partial agg per (query, vector) — linear in corpus size,
  skew-free (every vector contributes exactly Q·m rows pre-agg, and the
  partial agg combines map-side). Ranking is a per-query window (Q
  partitions, each holding only that query's aggregated distances).

Determinism/oracle: every reduction is rounded 6dp at the same points as
the SQL oracle (distances, centroid means, table entries, total ADC
distance); argmin ties break to the smaller cluster id, top-k ties to the
smaller vec_id. ``m`` must divide the embedding dim.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F

from graph_data_science_spark.plans.loop_state import Scratch


@dataclass
class PQModel:
    m: int                 # number of subspaces
    k: int                 # centroids per subspace
    sub_dim: int           # dims per subspace (d / m)
    codebook: DataFrame    # (sub, cluster, sdim, cval) — m·k·sub_dim rows
    ran_iterations: int


def _long_points(vecs: DataFrame, m: int, id_col: str,
                 vec_col: str, dim: int | None = None) -> tuple[DataFrame, int]:
    """(id, sub, sdim, val) long format; returns (df, sub_dim). ``dim``
    skips the probe job when the caller already knows it (every
    post-training path does: d = model.m * model.sub_dim)."""
    if dim is not None:
        d = int(dim)
    else:
        head = vecs.select(vec_col).first()
        if head is None:
            raise ValueError("empty vector table")
        d = len(head[0])
    if d % m != 0:
        raise ValueError(f"m={m} must divide embedding dim {d}")
    ds = d // m
    pts = vecs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("dim", "val"))
    pts = pts.select(
        "id",
        (F.col("dim") / ds).cast("long").alias("sub"),
        F.pmod(F.col("dim"), F.lit(ds)).cast("long").alias("sdim"),
        "val")
    return pts, ds


def _assign(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, sub, cluster): nearest centroid per subspace — ROUND(Σ(v−c)²,6),
    ties → smaller cluster id (identical to clustering.kmeans)."""
    dists = (pts.join(F.broadcast(cents), ["sub", "sdim"])
             .groupBy("id", "sub", "cluster")
             .agg(F.round(F.sum((F.col("val") - F.col("cval"))
                                * (F.col("val") - F.col("cval"))), 6)
                  .alias("d")))
    return dists.groupBy("id", "sub").agg(
        F.min(F.struct("d", "cluster")).alias("_b")
    ).select("id", "sub", F.col("_b.cluster").alias("cluster"))


def pq_train(
    vecs: DataFrame,
    m: int = 4,
    k: int = 16,
    max_iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> PQModel:
    """Train an m-subspace, k-centroid product codebook (module doc)."""
    from graph_data_science_spark.operators.embeddings import _u01

    spark = vecs.sparkSession
    scratch = Scratch(spark)
    try:
        train = vecs
        if sample_fraction is not None:
            train = vecs.where(
                _u01(F.col(id_col), F.lit("pqsample"), F.lit(int(seed)))
                < float(sample_fraction))
        pts, ds = _long_points(train, m, id_col, vec_col)
        pts = scratch.truncate(pts, "pts")

        # seed ids shared across subspaces: the k vectors with smallest
        # u01(id) — same deterministic sample init as clustering.kmeans
        order = [_u01(F.col("id"), F.lit("pqseed"), F.lit(int(seed))),
                 F.col("id")]
        w = Window.orderBy(*order)
        seeds = (train.select(F.col(id_col).alias("id"))
                 .orderBy(*order).limit(int(k))
                 .withColumn("cluster", F.row_number().over(w) - 1))
        n_seeds = seeds.count()
        if n_seeds < int(k):
            raise ValueError(
                f"training set has only {n_seeds} vectors for k={k} "
                f"centroids (sample_fraction={sample_fraction!r} too "
                f"aggressive?)")
        cents = pts.join(F.broadcast(seeds), "id").select(
            "sub", "cluster", "sdim", F.round("val", 6).alias("cval"))
        cents = scratch.truncate(cents, "cents")

        for _ in range(int(max_iterations)):
            assign = scratch.truncate(_assign(pts, cents), "assign")
            cents = (pts.join(assign, ["id", "sub"])
                     .groupBy("sub", "cluster", "sdim")
                     .agg(F.round(F.avg("val"), 6).alias("cval")))
            cents = scratch.truncate(cents, "cents")
        return PQModel(int(m), int(k), ds,
                       cents.localCheckpoint(eager=True),
                       int(max_iterations))
    finally:
        scratch.cleanup()


def pq_encode(
    vecs: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    flat: bool = False,
) -> DataFrame:
    """Quantize every vector against the final codebook.

    Returns ``(vec_id, codes array<long>)`` ordered by subspace, or with
    ``flat=True`` one ``code_{j}`` column per subspace (fixed schema for
    hashing oracles)."""
    pts, _ = _long_points(vecs, model.m, id_col, vec_col,
                          dim=model.m * model.sub_dim)
    asg = _assign(pts, model.codebook)
    if flat:
        aggs = [F.max(F.when(F.col("sub") == j, F.col("cluster")))
                .cast("long").alias(f"code_{j}") for j in range(model.m)]
        return asg.groupBy(F.col("id").alias("vec_id")).agg(*aggs)
    return asg.groupBy(F.col("id").alias("vec_id")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cluster"))),
            lambda s: s["cluster"]).alias("codes"))


def pq_topk(
    vecs: DataFrame,
    model: PQModel,
    queries: DataFrame,
    k_neighbors: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: (query_id, vec_id, adist), the ``k_neighbors`` smallest
    approximate distances per query (ties → smaller vec_id).

    ``queries`` is REQUIRED and must be a bounded query set: the ADC
    table is Q·m·k rows and is broadcast — a corpus-sized Q (self-join
    ANN) would broadcast a corpus-sized table, which is exactly the plan
    shape PQ exists to avoid (use the LSH/near-duplicate kernels for
    all-pairs questions)."""
    if queries is None:
        raise ValueError(
            "pq_topk requires an explicit bounded query set (the ADC "
            "table broadcasts Q·m·k rows)")
    d = model.m * model.sub_dim
    qpts, _ = _long_points(queries, model.m, id_col, vec_col, dim=d)
    # per-query distance table: Q·m·k rows — broadcast
    tbl = (qpts.join(F.broadcast(model.codebook), ["sub", "sdim"])
           .groupBy(F.col("id").alias("query_id"), "sub", "cluster")
           .agg(F.round(F.sum((F.col("val") - F.col("cval"))
                              * (F.col("val") - F.col("cval"))), 6)
                .alias("td")))
    # _assign's long format IS the ADC join shape — going through
    # pq_encode's codes array would add a collect_list shuffle + explode
    pts, _ = _long_points(vecs, model.m, id_col, vec_col, dim=d)
    codes = _assign(pts, model.codebook) \
        .select(F.col("id").alias("vec_id"), "sub", "cluster")
    ad = (codes.join(F.broadcast(tbl), ["sub", "cluster"])
          .groupBy("query_id", "vec_id")
          .agg(F.round(F.sum("td"), 6).alias("adist")))
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    return (ad.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(k_neighbors))
            .select("query_id", "vec_id", "adist"))


def ivfpq_topk(
    vecs: DataFrame,
    model: PQModel,
    queries: DataFrame,
    k_neighbors: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    rerank_factor: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    lists: DataFrame | None = None,
    centroids: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ — the standard billion-vector serving layout (Jégou et
    al. 2011 "IVFADC"): a coarse k-means quantizer assigns every vector to
    one of ``n_lists`` inverted lists; a query probes only its ``n_probe``
    nearest lists and runs ADC there. Scan volume drops to ~n_probe/n_lists
    of the corpus — the piece plain ADC lacks at 10^9 vectors, where even
    an m-byte-per-vector linear scan is the bottleneck.

    Index-vs-query split (the part that makes the reduction REAL): the
    inverted lists and PQ codes are INDEX artifacts, built once offline —
    pass them as ``lists`` (vec_id, list), ``centroids`` (list, dim, cval:
    a ``kmeans(...)`` result pair) and ``codes`` (vec_id, sub, cluster:
    ``pq_encode`` in long form, or the `_assign` output). When omitted
    (small data / tests) they are built inline, and the inline encode is
    restricted to the PROBED vectors first — a broadcast semi-join on the
    probe set runs BELOW the assignment aggregation, so even the inline
    path never encodes the unprobed corpus.

    Simplification vs the reference paper (documented): codes quantize the
    RAW vectors, not the coarse residuals — residual codebooks buy recall,
    not scalability, and the raw-code variant keeps the codes reusable
    across probe settings (and identical to :func:`pq_encode`). With
    ``rerank_factor`` set, the shortlist is exactly re-ranked
    (:func:`pq_topk_rerank` semantics) and the output column is the exact
    ``dist``; otherwise the approximate ``adist``.

    Coarse probe distances are ROUND(·,6) like every other reduction in
    this module, so the probe set is aggregation-order independent."""
    d = model.m * model.sub_dim
    if (lists is None) != (centroids is None):
        raise ValueError("pass lists and centroids together "
                         "(both halves of the kmeans index)")
    if lists is None:
        from graph_data_science_spark.operators.clustering import kmeans

        coarse = kmeans(vecs, k=int(n_lists), id_col=id_col,
                        vec_col=vec_col, seed=seed)
        lists = coarse.assignment.select(
            F.col("id").alias("vec_id"), F.col("cluster").alias("list"))
        centroids = coarse.centroids
    cents = centroids.select(
        F.col("cluster").alias("list"), "dim", F.col("cval"))

    # per-query probe set: n_probe nearest coarse centroids
    qpts_full = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("dim", "val"))
    qd = (qpts_full.join(F.broadcast(cents), "dim")
          .groupBy("query_id", "list")
          .agg(F.round(F.sum((F.col("val") - F.col("cval"))
                             * (F.col("val") - F.col("cval"))), 6)
               .alias("d")))
    wp = Window.partitionBy("query_id").orderBy("d", "list")
    probes = (qd.withColumn("_rn", F.row_number().over(wp))
              .where(F.col("_rn") <= int(n_probe))
              .select("query_id", "list"))

    # ADC restricted to the probed lists
    qpts, _ = _long_points(queries, model.m, id_col, vec_col, dim=d)
    tbl = (qpts.join(F.broadcast(model.codebook), ["sub", "sdim"])
           .groupBy(F.col("id").alias("query_id"), "sub", "cluster")
           .agg(F.round(F.sum((F.col("val") - F.col("cval"))
                              * (F.col("val") - F.col("cval"))), 6)
                .alias("td")))
    # probed vectors = members of any probed list. The PROBE list-id set
    # (≤ Q·n_probe values) broadcasts; the resulting id set is a corpus
    # FRACTION — never broadcast it, restrict via shuffle semi-joins
    probed_ids = (lists.join(
        F.broadcast(probes.select("list").distinct()), "list", "left_semi")
        .select("vec_id"))
    if codes is None:
        # inline encode of the PROBED vectors only: the semi-join runs
        # below the assignment aggregation, never over the full corpus
        sub = vecs.join(probed_ids.withColumnRenamed("vec_id", id_col),
                        id_col, "left_semi")
        pts, _ = _long_points(sub, model.m, id_col, vec_col, dim=d)
        codes = _assign(pts, model.codebook) \
            .select(F.col("id").alias("vec_id"), "sub", "cluster")
    else:
        codes = codes.join(probed_ids, "vec_id", "left_semi")
    scan = (codes.join(lists, "vec_id")
            .join(F.broadcast(probes), "list"))
    ad = (scan.join(F.broadcast(tbl), ["query_id", "sub", "cluster"])
          .groupBy("query_id", "vec_id")
          .agg(F.round(F.sum("td"), 6).alias("adist"))
          # a probed vector only counts when every subspace matched a
          # table row — guaranteed: tbl has all m·k cells per query
          )
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    short_k = int(k_neighbors * (rerank_factor or 1))
    short = (ad.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") <= short_k)
             .select("query_id", "vec_id", "adist"))
    if rerank_factor is None:
        return short
    xv = vecs.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).cast("array<double>").alias("_xv"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).cast("array<double>").alias("_qv"))
    cand = (xv.join(F.broadcast(short.select("query_id", "vec_id")),
                    "vec_id")
            .join(F.broadcast(qv), "query_id"))
    dist = F.round(F.aggregate(
        F.zip_with("_qv", "_xv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    wr = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (cand.select("query_id", "vec_id", dist.alias("dist"))
            .withColumn("_rn", F.row_number().over(wr))
            .where(F.col("_rn") <= int(k_neighbors))
            .select("query_id", "vec_id", "dist"))


def pq_topk_rerank(
    vecs: DataFrame,
    model: PQModel,
    queries: DataFrame,
    k_neighbors: int = 5,
    rerank_factor: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC shortlist + exact re-rank (the standard IVFADC+R refinement,
    Jégou et al. 2011 §V): pull ``rerank_factor × k`` candidates by
    approximate distance, compute the EXACT squared L2 only on that
    shortlist, return the exact top-k → (query_id, vec_id, dist).

    Scale shape: the exact computation touches Q·factor·k rows — never the
    corpus. The shortlist is broadcast against the vectors table, so the
    full-corpus side is one semi-join + projection, no shuffle of the
    embedding column."""
    short = pq_topk(vecs, model, queries, int(k_neighbors * rerank_factor),
                    id_col, vec_col)
    xv = vecs.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).cast("array<double>").alias("_xv"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).cast("array<double>").alias("_qv"))
    cand = (xv.join(F.broadcast(short.select("query_id", "vec_id")),
                    "vec_id")
            .join(F.broadcast(qv), "query_id"))
    dist = F.round(F.aggregate(
        F.zip_with("_qv", "_xv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (cand.select("query_id", "vec_id", dist.alias("dist"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(k_neighbors))
            .select("query_id", "vec_id", "dist"))
