"""Degree centrality — ``gds.degree`` analog.

Reference: algo/src/main/java/org/neo4j/gds/degree/DegreeCentrality.java —
orientation-dependent degree; weighted degree sums only weights > 0
(DegreeCentrality.java:315-319 — negative/zero weights ignored). The one
degree definition is ``Graph.degrees``: a plain partial-aggregated
groupBy that stays entirely in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from graph_data_science_spark.graph import NATURAL, Graph


def degree_centrality(
    graph: Graph,
    orientation: str = NATURAL,
    weighted: bool = False,
) -> DataFrame:
    """Per-node degree → ``(node_id, score: double)``: ``Graph.degrees``
    of the graph in ``orientation``.

    NATURAL = out-degree, REVERSE = in-degree, UNDIRECTED = both directions
    (sum of out+in, parallel edges counted — matching the reference's
    undirected CSR which materializes both directions).
    """
    return (graph.oriented(orientation).degrees("out", weighted)
            .withColumnRenamed("degree", "score"))
