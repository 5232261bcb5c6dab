"""Triangle count + local clustering coefficient — ordered two-hop join.

Reference semantics (algo/src/main/java/org/neo4j/gds/triangle/):
- requires an UNDIRECTED projection (TriangleCountBaseConfig.java:55-67);
  parallel edges and self-loops are deduped/ignored
  (GraphIntersect.java:78-80,165).
- each triangle is found once in id order A < B < C via sorted-adjacency
  merge-intersection (intersect/GraphIntersect.java:52-170); every corner's
  count += 1 (IntersectingTriangleCount.java:156-163); global = #triangles.
- optional ``maxDegree``: nodes above it are excluded from triangle formation
  and report count **-1** (IntersectingTriangleCount.java:56,145-150).
- LCC (LocalClusteringCoefficient.java:121-131):
  ``C(v) = 2*T(v) / (deg(v) * (deg(v)-1))``; 0 when deg < 2; NaN for
  nodes excluded by maxDegree.

Two plans, chosen by the engine's size policy through ``Graph.tier`` —
the gate PageRank asks too, so a Graph that PageRank ran on is not counted
again:

- ``"local"`` (node and edge counts both below ``LARGE_STATE_ROWS``): the
  kernel reads the Graph's driver view, ``Graph.local()`` — node ids and
  edges collected once per Graph and shared with PageRank — and
  canonicalizes the edges there by ``graph.canonical_edges``'s rule
  (self-loops dropped, each unordered pair once), which saves that
  function's distinct shuffle; the same degree-ordered wedge closing then
  runs in NumPy, in passes of at most as many wedges as edges
  (:func:`_local_triangles`). The per-node counts are one ``bincount``
  over the view's ids, kept where they are nodes. The triangle stream and
  the per-node counts return through ``createDataFrame``.
- otherwise, the Spark plan (SURVEY §2.4 "ordered two-hop self-join",
  degree-oriented — the compact-forward algorithm):

1. canonicalize undirected edges to ``src < dst``, distinct (dedup =
   the reference's parallel-edge guard) — ``graph.canonical_edges``, the
   one canonicalization the batch kernels, :func:`triangle_count_delta`
   and the streaming maintainer share; degrees on that simple graph come
   from ``_simple_degrees``.
2. **degree orientation**: re-orient every edge to point from the
   lower-(degree, id) endpoint to the higher one. Wedge enumeration then
   happens only at each triangle's MIN-degree corner, so a hub of degree D
   contributes O(choose(out_deg, 2)) with out_deg ≤ ~sqrt(|E|) instead of
   O(D^2) — the standard shuffle-volume reducer for skewed graphs (the
   reference's analog is the A<B<C cursor order + skipUntil,
   GraphIntersect.java:63-66,141-147).
3. wedges = oriented ⋈ oriented on the common low corner, spoke pair (b, c)
   ordered by the same (degree, id) key; probe the canonical edge set for
   (min(b,c), max(b,c)) with a left_semi join (broadcast when small; AQE
   picks SMJ at scale).
4. per-node counts: explode the 3 corners, partial-aggregated count.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.graph import Graph, canonical_edges


@dataclass
class TriangleCountResult:
    per_node: DataFrame  # (node_id, triangles)
    global_count: int
    triangles: DataFrame  # (a, b, c) with a < b < c


def _simple_degrees(edges: DataFrame) -> DataFrame:
    """``(node_id, deg)`` — undirected degree over canonical simple edges
    (nodes without edges are absent)."""
    return (edges.select(F.col("src").alias("node_id"))
            .unionByName(edges.select(F.col("dst").alias("node_id")))
            .groupBy("node_id").agg(F.count(F.lit(1)).alias("deg")))


def triangles(graph: Graph, max_degree: int | None = None) -> DataFrame:
    """Stream of distinct triangles ``(a, b, c)``, a < b < c — the
    ``gds.triangles`` analog (algo/.../triangle/TriangleStream.java:52).

    The returned DataFrame is materialized — by the driver-local plan's
    ``createDataFrame``, or the join plan's single localCheckpoint, whose
    intermediate caches are unpersisted before returning — so no block
    leaks across repeated calls, and consumers reuse the materialized
    triangle stream instead of recomputing the wedge join."""
    if graph.tier() == "local":
        _, tri = _local_triangles(graph, max_degree)
        return _local_frame(graph, graph.local().ids[tri], ("a", "b", "c"))
    tri, handles = _build_triangles(graph, max_degree)
    out = tri.localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    return out


def _local_frame(graph: Graph, data, names) -> DataFrame:
    """Driver arrays → a DataFrame of ``long`` columns, whose rows the JVM
    holds from creation on."""
    cols = np.asarray(data, dtype=np.int64).reshape(-1, len(names))
    table = pa.table({c: cols[:, i] for i, c in enumerate(names)})
    return graph.edges.sparkSession.createDataFrame(table)


def _local_triangles(graph: Graph, max_degree: int | None):
    """The driver-local plan (module doc) → ``(deg, tri)``: the degree of
    each of ``graph.local().ids`` on the simple undirected graph, and a
    ``(k, 3)`` array of triangles as positions into those ids, ascending
    within a row (so ``ids[tri]`` is the stream ``a < b < c``).

    The same compact-forward steps as the Spark plan: drop nodes above
    ``max_degree``, orient each surviving edge from its lower (degree, id)
    end, pair the out-neighbours of each node in that order, and keep a
    wedge when its closing edge is an oriented edge. A pass over the
    wedges generates at most as many as there are edges, so the driver
    holds O(edges) at a time whatever the wedge count."""
    view = graph.local()
    n, a, b = len(view.ids), view.src, view.dst
    # the simple undirected graph: self-loops dropped, each pair once
    simple = np.unique((np.minimum(a, b) * n + np.maximum(a, b))[a != b])
    s, d = simple // n, simple % n
    deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    sub_deg = deg
    if max_degree is not None:
        keep = deg <= int(max_degree)
        kept = keep[s] & keep[d]
        s, d = s[kept], d[kept]
        # degrees for orientation are recomputed on the surviving subgraph
        sub_deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    # orientation rank of each node in (degree, id) order — ids are sorted,
    # so position order is id order
    by_rank = np.lexsort((np.arange(n), sub_deg))
    rk = np.empty(n, dtype=np.int64)
    rk[by_rank] = np.arange(n)
    key = np.sort(np.minimum(rk[s], rk[d]) * n + np.maximum(rk[s], rk[d]))
    lo, hi = key // n, key % n
    # oriented edge i pairs with the later edges of its low corner's run:
    # hi ascends within a run, so each triangle is one wedge
    # (lo, hi[i], hi[j]), i < j, at its lowest-ranked corner
    wedges = np.searchsorted(lo, lo, side="right") - np.arange(len(key)) - 1
    before = np.concatenate([[0], np.cumsum(wedges)])
    found = [np.empty((0, 3), dtype=np.int64)]
    i0 = 0
    while i0 < len(key):
        i1 = max(i0 + 1, int(np.searchsorted(
            before, before[i0] + len(key), side="right")) - 1)
        c = wedges[i0:i1]
        first = np.repeat(np.arange(i0, i1), c)
        second = (first + 1 + np.arange(len(first))
                  - np.repeat(np.cumsum(c) - c, c))
        close = hi[first] * n + hi[second]
        at = np.minimum(np.searchsorted(key, close), len(key) - 1)
        hit = key[at] == close
        found.append(np.stack([lo[first[hit]], hi[first[hit]],
                               hi[second[hit]]], axis=1))
        i0 = i1
    return deg, np.sort(by_rank[np.concatenate(found)], axis=1)


def _build_triangles(graph: Graph, max_degree: int | None = None):
    """(lazy triangle stream, [persisted handles to unpersist after
    materialization])."""
    edges = graph.canonical_undirected_edges()
    deg = _simple_degrees(edges)
    if max_degree is not None:
        keep = deg.where(F.col("deg") <= int(max_degree)).select("node_id")
        edges = (
            edges.join(keep.withColumnRenamed("node_id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node_id", "dst"), "dst", "left_semi")
        )
        # degrees for orientation are recomputed on the surviving subgraph
        deg = _simple_degrees(edges)

    # lazy persist (materialized by the wedge join's first pass, reused by
    # the closing semi-join); the caller unpersists after checkpointing the
    # triangle stream — fixes round 1's never-unpersisted leak without the
    # cost of eagerly materializing two intermediates
    edges = edges.persist()

    # orientation key: (degree, id) — total order, hub-avoiding
    dsrc = deg.select(F.col("node_id").alias("src"), F.col("deg").alias("_ds"))
    ddst = deg.select(F.col("node_id").alias("dst"), F.col("deg").alias("_dd"))
    keyed = edges.join(dsrc, "src").join(ddst, "dst")
    lower_first = (F.col("_ds") < F.col("_dd")) | (
        (F.col("_ds") == F.col("_dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = keyed.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
        F.when(lower_first, F.col("_dd")).otherwise(F.col("_ds")).alias("hi_deg"),
    ).persist()

    # wedges at the low corner; spokes ordered by the orientation key so each
    # triangle is generated exactly once
    e1 = oriented.select(
        F.col("lo").alias("a"), F.col("hi").alias("b"), F.col("hi_deg").alias("bd")
    )
    e2 = oriented.select(
        F.col("lo").alias("a2"), F.col("hi").alias("c"), F.col("hi_deg").alias("cd")
    )
    wedge_order = (F.col("bd") < F.col("cd")) | (
        (F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c"))
    )
    wedges = e1.join(e2, (F.col("a") == F.col("a2")) & wedge_order).select("a", "b", "c")

    closing = edges.select(
        F.col("src").alias("_x"), F.col("dst").alias("_y")
    )
    tri = wedges.join(
        closing,
        (F.least("b", "c") == F.col("_x")) & (F.greatest("b", "c") == F.col("_y")),
        "left_semi",
    )
    # emit in id order a < b < c like the reference's ordered stream
    out = tri.select(
        F.least(F.least("a", "b"), "c").alias("a"),
        F.expr("greatest(least(a,b), least(greatest(a,b),c))").alias("b"),
        F.greatest(F.greatest("a", "b"), "c").alias("c"),
    )
    return out, [edges, oriented]


def triangle_count(graph: Graph, max_degree: int | None = None) -> TriangleCountResult:
    """``gds.triangleCount`` analog: per-node + global triangle counts.

    Excluded (degree > max_degree) nodes report -1, like the reference.
    """
    if graph.tier() == "local":
        deg, tri = _local_triangles(graph, max_degree)
        view = graph.local()
        counts = np.bincount(tri.ravel(), minlength=len(view.ids))
        if max_degree is not None:
            counts[deg > int(max_degree)] = -1
        node = view.is_node
        return TriangleCountResult(
            _local_frame(graph, np.stack([view.ids[node], counts[node]], axis=1),
                         ("node_id", "triangles")),
            len(tri), _local_frame(graph, view.ids[tri], ("a", "b", "c")))
    tri = triangles(graph, max_degree=max_degree)  # checkpointed, leak-free
    corners = (
        tri.select(F.col("a").alias("node_id"))
        .unionByName(tri.select(F.col("b").alias("node_id")))
        .unionByName(tri.select(F.col("c").alias("node_id")))
    )
    counts = corners.groupBy("node_id").agg(F.count(F.lit(1)).alias("triangles"))
    global_count = tri.count()

    base = graph.nodes.select("node_id")
    if max_degree is not None:
        deg = _simple_degrees(graph.canonical_undirected_edges())
        base = base.join(deg, "node_id", "left").select(
            "node_id",
            (F.coalesce("deg", F.lit(0)) > int(max_degree)).alias("_excluded"),
        )
    else:
        base = base.withColumn("_excluded", F.lit(False))

    per_node = base.join(counts, "node_id", "left").select(
        "node_id",
        F.when(F.col("_excluded"), F.lit(-1))
        .otherwise(F.coalesce("triangles", F.lit(0)))
        .cast("long")
        .alias("triangles"),
    )
    return TriangleCountResult(per_node, int(global_count), tri)


def local_clustering_coefficient(
    graph: Graph, max_degree: int | None = None
) -> DataFrame:
    """``gds.localClusteringCoefficient`` analog → (node_id, lcc: double).

    ``2T/(d(d-1))``, 0 when d < 2, NaN when excluded by maxDegree
    (LocalClusteringCoefficient.java:121-131).
    """
    tc = triangle_count(graph, max_degree=max_degree)
    deg = _simple_degrees(graph.canonical_undirected_edges())
    joined = tc.per_node.join(deg, "node_id", "left").select(
        "node_id",
        F.col("triangles"),
        F.coalesce("deg", F.lit(0)).cast("double").alias("_deg"),
    )
    return joined.select(
        "node_id",
        F.when(F.col("triangles") == -1, F.lit(float("nan")))
        .when(F.col("_deg") < 2, F.lit(0.0))
        .otherwise(
            2.0 * F.col("triangles") / (F.col("_deg") * (F.col("_deg") - 1.0))
        )
        .alias("lcc"),
    )


def triangle_count_delta(old_edges: DataFrame, batch_edges: DataFrame) -> int:
    """Number of triangles CREATED by ``batch_edges`` arriving on top of the
    simple graph ``old_edges`` — the incremental-maintenance twin of
    :func:`triangle_count` (reference semantics per
    IntersectingTriangleCount.java; the reference recomputes, this counts
    only the delta).

    ``old_edges`` must be canonical (``src < dst``, distinct — the
    accumulated state the streaming maintainer keeps); ``batch_edges`` is
    raw and is canonicalized + deduped against the old set here.

    Counting discipline: each new triangle is charged to its LARGEST new
    edge under the (src, dst) lexicographic order — for new edge e=(u,v),
    count common neighbors w whose two closing edges (u,w), (v,w) are
    either old or new-with-smaller-key. A triangle with 1, 2 or 3 new
    edges is therefore counted exactly once, and
    ``triangle_count(old ∪ batch) == triangle_count(old) + delta``.

    Plan: the (small) batch is broadcast into the adjacency of old ∪ new;
    the wedge set is O(Σ_{(u,v)∈batch} deg(u)), closed by ONE
    shuffle-hash join keyed (endpoint, wedge corner) — per-batch cost is
    the batch's blast radius, never the graph. No driver-side iteration;
    the single scalar crosses to the driver.
    """
    new_e = (canonical_edges(batch_edges)
             .join(old_edges, ["src", "dst"], "left_anti")
             .localCheckpoint(eager=True))

    key = F.struct(F.col("src").alias("s"), F.col("dst").alias("d"))
    tagged = (old_edges.select("src", "dst", F.lit(0).alias("tag"))
              .unionByName(new_e.select("src", "dst", F.lit(1).alias("tag"))))
    # adjacency in both directions: (x, w) with the closing edge's tag/key
    adj = (tagged.select(F.col("src").alias("x"), F.col("dst").alias("w"),
                         "tag", key.alias("k"))
           .unionByName(
               tagged.select(F.col("dst").alias("x"), F.col("src").alias("w"),
                             "tag", key.alias("k"))))

    e1 = new_e.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                      key.alias("k0"))
    older = lambda k, k0: (F.col(f"{k}.tag") == 0) | (
        (F.col(f"{k}.k.s") < F.col(f"{k0}.s"))
        | ((F.col(f"{k}.k.s") == F.col(f"{k0}.s"))
           & (F.col(f"{k}.k.d") < F.col(f"{k0}.d"))))
    a1 = adj.select(F.col("x").alias("u"), "w",
                    F.struct("tag", "k").alias("e_uw"))
    a2 = adj.select(F.col("x").alias("v2"), F.col("w").alias("w2"),
                    F.struct("tag", "k").alias("e_vw"))
    wedges = (a1.join(F.broadcast(e1), "u")
              .where((F.col("w") != F.col("v")) & older("e_uw", "k0")))
    closed = (wedges.join(a2.hint("shuffle_hash"),
                          (F.col("v") == F.col("v2"))
                          & (F.col("w") == F.col("w2")))
              .where(older("e_vw", "k0")))
    n = closed.count()
    return int(n)
