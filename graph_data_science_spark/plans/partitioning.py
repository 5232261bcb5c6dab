"""Partitioning & skew helpers.

Reference analog: degree partitioning of node batches
(core/src/main/java/org/neo4j/gds/core/partition/PartitionUtils.java:49,125)
— GDS balances thread batches by edge count. In Spark the equivalent hazards
are (a) aggregation skew on hub destinations and (b) join skew on hub
sources. Spark's hash aggregate already does map-side partial aggregation
(the combiner), and AQE splits skewed join partitions; the explicit salted
two-level aggregation below is for the residual case — a reduce key so hot
that even the partial-aggregated slices land on one reducer (the north rule's
"salted repartitioning and two-level aggregation").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def shuffle_hash(df: DataFrame) -> DataFrame:
    """Hint the vertex-state side of a superstep join to SHUFFLE_HASH.

    Without it, AQE re-BROADCASTS the multi-million-row vertex state every
    superstep (measured 2× superstep cost at 14M edges) — and a broadcast of
    per-vertex state is impossible at 10^12 nodes. With the hint, the cached
    edge table's ``HashPartitioning(src)`` is reused and only the small
    (state) side shuffles."""
    return df.hint("shuffle_hash")


def two_level_sum(
    df: DataFrame,
    key: str,
    value: Column | str,
    out: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """``SELECT key, sum(value)`` resistant to a single ultra-hot key.

    Level 1 groups by (key, salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; level 2 sums the ≤``salt_buckets`` partials per
    key. For a 10^9-in-degree hub this caps any one reducer's share at
    1/salt_buckets of the hub's traffic.
    """
    value = F.col(value) if isinstance(value, str) else value
    salted = df.withColumn("_salt", F.pmod(F.crc32(F.col(key).cast("string")) + F.spark_partition_id(), F.lit(salt_buckets)))
    partial = salted.groupBy(key, "_salt").agg(F.sum(value).alias("_partial"))
    return partial.groupBy(key).agg(F.sum("_partial").alias(out))


def degree_stats(edges: DataFrame, key: str = "dst") -> dict:
    """Degree distribution summary — drives the salt/no-salt decision the way
    ImportSizing drives the reference's buffer layout
    (core/.../loading/ImportSizing.java:29)."""
    deg = edges.groupBy(key).agg(F.count(F.lit(1)).alias("d"))
    row = deg.agg(
        F.count(F.lit(1)).alias("nodes"),
        F.max("d").alias("max_degree"),
        F.avg("d").alias("avg_degree"),
        F.expr("percentile_approx(d, 0.99)").alias("p99_degree"),
    ).first()
    return {k: (float(v) if v is not None else 0.0) for k, v in row.asDict().items()}


def bucketed_exclusive_prefix(
    d: DataFrame,
    bucket_col: str,
    order_cols: list[str],
    n_buckets: int,
    value: Column | str | None = None,
    out: str = "_prefix",
) -> DataFrame:
    """Exact global exclusive prefix over the total order ``(bucket_col,
    *order_cols)`` without a global sort — the SCALE_NOTES §21 two-level
    pattern, factored out of token_budget_sample / lm_perplexity_buckets
    so the subtle machinery (driver-side exclusive bucket prefix,
    broadcast offset join, bucket-partitioned window) exists once.

    ``d[bucket_col]`` must hold integer bucket ids in ``[0, n_buckets)``
    whose boundaries respect the order (rows in bucket b sort before
    every row in bucket b+1). Out-of-range ids are clamped into range
    (a boundary value like ``u == 1.0`` mapping to ``n_buckets`` lands
    in the last bucket) so the broadcast inner join can never silently
    drop rows. With ``value`` set, ``out`` is the
    exclusive running SUM of ``value``; with ``value=None``, ``out`` is
    the exclusive running COUNT — i.e. ``out + 1`` is the exact 1-based
    global rank. The per-bucket totals (``n_buckets`` rows) are the only
    driver state; the within-bucket window is ``n_buckets``-way parallel.

    ``d`` is read twice (bucket totals + final pass) — callers that
    reach this from an expensive lineage should materialize first (both
    call sites localCheckpoint eagerly)."""
    from pyspark.sql.window import Window

    vcol = (F.col(value) if isinstance(value, str) else value) \
        if value is not None else F.lit(1)
    d = d.withColumn(bucket_col, F.greatest(
        F.lit(0), F.least(F.lit(int(n_buckets) - 1),
                          F.col(bucket_col).cast("long"))))
    totals = {int(r["_b"]): int(r["t"]) for r in
              d.groupBy(F.col(bucket_col).alias("_b"))
               .agg(F.sum(vcol).alias("t")).collect()}
    rows, acc = [], 0
    for b in range(int(n_buckets)):
        rows.append((b, acc))
        acc += totals.get(b, 0)
    off = d.sparkSession.createDataFrame(rows, f"{bucket_col} long, _off long")
    w = (Window.partitionBy(bucket_col)
         .orderBy(*[F.asc(c) for c in order_cols])
         .rowsBetween(Window.unboundedPreceding, -1))
    pre = (F.col("_off")
           + F.coalesce(F.sum(vcol).over(w), F.lit(0))).alias(out)
    return d.join(F.broadcast(off), bucket_col).select("*", pre).drop("_off")
