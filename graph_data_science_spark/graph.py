"""The Graph data model: a (nodes, edges) DataFrame pair.

Reference analog: ``org.neo4j.gds.api.Graph`` / ``GraphStore``
(core/src/main/java/org/neo4j/gds/api/GraphStore.java:46,
 core/src/main/java/org/neo4j/gds/core/huge/HugeGraph.java:97).
The reference stores an in-memory CSR; here the canonical representation is
relational — an ``edges`` DataFrame hash-partitioned by ``src``. CSR packing
happens per-partition inside Arrow UDFs where a distributed kernel wants it,
and, below the size gate (``Graph.tier() == "local"``), on the driver: one
:class:`LocalGraph` per Graph (:meth:`Graph.local`), collected once and read
by every driver-local plan, as every reference algorithm reads its one
``HugeGraph``.

Schema conventions
------------------
- ``nodes``:  ``node_id: long`` (dense internal id, the IdMap output) plus
  any number of property columns (long/double/string/array — the reference's
  ValueType surface, graph-projection-api/.../ValueType.java:25-152).
- ``edges``:  ``src: long, dst: long`` plus optional ``weight: double`` and
  ``rel_type: string``.

Orientation (graph-projection-api/.../Orientation.java:29-41):
NATURAL keeps edges as loaded; REVERSE swaps; UNDIRECTED materializes both
directions (the reference does the same in its CSR).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

import numpy as np
from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.plans import loop_state

NATURAL = "NATURAL"
REVERSE = "REVERSE"
UNDIRECTED = "UNDIRECTED"

#: Parallel-edge aggregation modes at load
#: (graph-projection-api/.../core/Aggregation.java:31-85).
AGGREGATIONS = ("NONE", "SINGLE", "SUM", "MIN", "MAX", "COUNT")


def _agg_weight(agg: str):
    return {
        "SINGLE": F.first("weight"),
        "SUM": F.sum("weight"),
        "MIN": F.min("weight"),
        "MAX": F.max("weight"),
        "COUNT": F.count(F.lit(1)).cast("double"),
    }[agg]


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Raw ``(src, dst)`` rows → distinct simple undirected edges,
    canonicalized to ``src < dst`` (self-loops dropped).

    The triangle kernels' required input, batch and incremental alike —
    mirrors the reference's A<B<C ordered emission
    (algo/.../triangle/intersect/GraphIntersect.java:52-170).
    """
    return (edges.select(F.least("src", "dst").alias("src"),
                         F.greatest("src", "dst").alias("dst"))
            .where(F.col("src") != F.col("dst")).distinct())


@dataclass(frozen=True)
class LocalGraph:
    """A Graph's driver-resident view (:meth:`Graph.local`).

    ``ids`` is the sorted union of node ids and edge endpoints, and
    ``is_node`` marks the ids that are nodes: PageRank drops an edge with
    an endpoint that is not a node (while its degree counts the edge), and
    triangles keep every edge. ``src``/``dst`` are each edge's endpoints as
    positions into ``ids``; ``weight`` is each edge's weight, or None when
    the graph has no weight column."""

    ids: np.ndarray
    is_node: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    weight: np.ndarray | None

    def out_degree(self, weighted: bool = False) -> np.ndarray:
        """Per-id out-degree over the rows :meth:`Graph.degrees` counts:
        every edge from the id, or, ``weighted``, the sum of its weights
        > 0."""
        n = len(self.ids)
        if not weighted:
            return np.bincount(self.src, minlength=n).astype(np.float64)
        if self.weight is None:
            raise ValueError("weighted degree requires a 'weight' column")
        pos = self.weight > 0.0
        return np.bincount(self.src[pos], weights=self.weight[pos],
                           minlength=n)


@dataclass
class Graph:
    """Immutable algorithm-facing graph view (nodes + edges DataFrames)."""

    nodes: DataFrame
    edges: DataFrame
    directed: bool = True
    name: str = "graph"
    #: filled lazily; ``node_count()`` / ``edge_count()`` populate these,
    #: and ``tier()`` reads them.
    _node_count: int | None = field(default=None, repr=False)
    _edge_count: int | None = field(default=None, repr=False)
    #: filled lazily by ``local()``. Not an ``__init__`` field, so
    #: ``dataclasses.replace`` does not copy it: every derived Graph
    #: (``oriented``, ``subgraph``, ``to_undirected``, ...) builds its own.
    _local: LocalGraph | None = field(default=None, init=False, repr=False,
                                      compare=False)

    # -- basic accessors ---------------------------------------------------
    def node_count(self) -> int:
        if self._node_count is None:
            object.__setattr__(self, "_node_count", self.nodes.count())
        return self._node_count

    def edge_count(self) -> int:
        if self._edge_count is None:
            object.__setattr__(self, "_edge_count", self.edges.count())
        return self._edge_count

    def tier(self) -> str:
        """The size policy's answer for this graph: ``loop_state.tier`` of
        the larger of its node and edge counts. The gate of the driver-local
        PageRank and triangle plans; the counts are cached, so kernels run
        on one Graph count it once."""
        return loop_state.tier(max(self.node_count(), self.edge_count()))

    def has_weight(self) -> bool:
        return "weight" in self.edges.columns

    def local(self) -> LocalGraph:
        """This graph on the driver, for the plans that run when
        :meth:`tier` is ``"local"``, so its size is bounded by the gate.
        Built on first use from one Arrow collect of ``nodes.node_id`` and
        one of the edges, and kept on the Graph (driver memory, not a
        Spark cache)."""
        if self._local is None:
            node_ids = self.nodes.select("node_id").toArrow().column(
                "node_id").to_numpy()
            e = self.edges.select(
                "src", "dst", *(["weight"] if self.has_weight() else [])
            ).toArrow()
            src, dst = e.column("src").to_numpy(), e.column("dst").to_numpy()
            ids = np.unique(np.concatenate([node_ids, src, dst]))
            is_node = np.zeros(len(ids), dtype=bool)
            is_node[np.searchsorted(ids, node_ids)] = True
            weight = (np.asarray(e.column("weight").to_numpy(), np.float64)
                      if self.has_weight() else None)
            object.__setattr__(self, "_local", LocalGraph(
                ids, is_node, np.searchsorted(ids, src),
                np.searchsorted(ids, dst), weight))
        return self._local

    # -- orientation / transforms -----------------------------------------
    def oriented(self, orientation: str = NATURAL) -> "Graph":
        """Return a graph with the requested edge orientation.

        UNDIRECTED mirrors every edge (both directions present), matching the
        reference's undirected CSR materialization
        (core/.../loading/AdjacencyBuffer.java + Orientation.UNDIRECTED).
        """
        if orientation == NATURAL:
            return self
        e = self.edges
        extra = [c for c in e.columns if c not in ("src", "dst")]
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *extra)
        if orientation == REVERSE:
            return replace(self, edges=rev)
        if orientation == UNDIRECTED:
            return replace(self, edges=e.select("src", "dst", *extra).unionByName(rev),
                           directed=False, _edge_count=None)
        raise ValueError(f"unknown orientation {orientation!r}")

    def to_undirected(self, aggregation: str = "SINGLE") -> "Graph":
        """``gds.beta.graph.relationships.toUndirected`` analog
        (algo/.../undirected/ToUndirected.java:48): mirror + dedup, with the
        reference's parallel-edge aggregation semantics."""
        g = self.oriented(UNDIRECTED)
        e = g.edges
        if "weight" in e.columns:
            e = e.groupBy("src", "dst").agg(_agg_weight(aggregation).alias("weight"))
        else:
            e = e.select("src", "dst").distinct()
        return replace(g, edges=e, directed=False, _edge_count=None)

    def canonical_undirected_edges(self) -> DataFrame:
        """:func:`canonical_edges` of this graph's edges."""
        return canonical_edges(self.edges)

    # -- degrees -----------------------------------------------------------
    def degrees(self, direction: str = "out", weighted: bool = False) -> DataFrame:
        """Per-node degree DataFrame ``(node_id, degree: double)``.

        Weighted degree sums only weights > 0, matching
        algo/.../degree/DegreeCentrality.java:315-319 (negative weights
        ignored). Nodes with no edges get degree 0.
        """
        key = "src" if direction == "out" else "dst"
        e = self.edges
        if weighted:
            if "weight" not in e.columns:
                raise ValueError("weighted degree requires a 'weight' column")
            deg = (
                e.where(F.col("weight") > 0.0)
                .groupBy(F.col(key).alias("node_id"))
                .agg(F.sum("weight").cast("double").alias("degree"))
            )
        else:
            deg = e.groupBy(F.col(key).alias("node_id")).agg(
                F.count(F.lit(1)).cast("double").alias("degree")
            )
        return (
            self.nodes.select("node_id")
            .join(deg, "node_id", "left")
            .select("node_id", F.coalesce("degree", F.lit(0.0)).alias("degree"))
        )

    # -- filtering (gds.graph.filter analog) --------------------------------
    def subgraph(self, node_filter: str = "true", rel_filter: str = "true") -> "Graph":
        """``gds.graph.filter`` analog — predicate-expression subgraph
        (subgraph-filtering/.../GraphStoreFilter.java). Catalyst IS the
        expression engine: filters are SQL expressions over node/edge columns;
        surviving edges are semi-joined on surviving endpoints."""
        nodes = self.nodes.filter(F.expr(node_filter))
        ids = nodes.select("node_id")
        edges = (
            self.edges.filter(F.expr(rel_filter))
            .join(ids.withColumnRenamed("node_id", "src"), "src", "left_semi")
            .join(ids.withColumnRenamed("node_id", "dst"), "dst", "left_semi")
        )
        return replace(self, nodes=nodes, edges=edges, _node_count=None,
                       _edge_count=None)

    def with_node_property(self, values: DataFrame, column: str) -> "Graph":
        """MUTATE-mode analog: attach an algorithm result ``(node_id, column)``
        as a node property (ExecutionMode.MUTATE,
        executor/.../ExecutionMode.java:27-28)."""
        nodes = self.nodes.join(values.select("node_id", column), "node_id", "left")
        return replace(self, nodes=nodes)


def edges_from_tuples(spark, tuples, weighted: bool = False) -> DataFrame:
    """Tiny fixture builder — the GDL-string analog
    (test-utils/.../gdl/GdlFactory.java:77)."""
    if weighted:
        return spark.createDataFrame(tuples, "src long, dst long, weight double")
    return spark.createDataFrame(tuples, "src long, dst long")


def graph_from_edges(spark, edges: DataFrame, nodes: DataFrame | None = None,
                     directed: bool = True, name: str = "graph") -> Graph:
    """Build a Graph from an edge DataFrame; node set inferred if absent."""
    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node_id"))
            .unionByName(edges.select(F.col("dst").alias("node_id")))
            .distinct()
        )
    return Graph(nodes=nodes, edges=edges, directed=directed, name=name)
