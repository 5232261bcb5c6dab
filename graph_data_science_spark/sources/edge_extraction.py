"""Import/include reference extraction — the native-projection analog.

Reference analog: ``gds.graph.project`` native scan
(proc/catalog/.../GraphProjectProc.java:52-66,
core/.../loading/NativeFactory.java:54) — there it scans Neo4j stores; here
the "store" is the source-code table and the scan is a vectorized regex
parser over ``content`` (Arrow-batched ``mapInPandas``; the per-language
regexes run via pandas ``str.extractall`` — no per-row Python loops, per the
input_hint mandate).

Pipeline: repos table → (src_key, ref_module) pairs → resolve module → file
key via the definitions table (``resolve_references``, a join) → dense-id
mapping + ``groupBy(src,dst)`` count aggregation (``weighted_edges``; the
reference's parallel-edge Aggregation,
core/.../loading/AdjacencyPreAggregation.java:26). The incremental ingest
(streaming/ingest.py) runs the same two functions per micro-batch.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from graph_data_science_spark.sources.idmap import assign_dense_ids, map_edges_to_ids

# one regex family per language (BASELINE input_hint: lang ∈ {py, c, java})
_PATTERNS = {
    "py": r"^\s*(?:import|from)\s+([A-Za-z_][\w\.]*)",
    "c": r'^\s*#\s*include\s+"([\w\.]+)\.h"',
    "java": r"^\s*import\s+(?:static\s+)?([\w\.]+)\s*;",
}


def extract_references(repos: DataFrame) -> DataFrame:
    """``(src_key string, ref_module string)`` — one row per parsed reference.

    ``src_key = repo::path``. Module normalization keeps the last dotted
    segment (``org.example.m7`` → ``m7``; ``pkg.mod`` → ``mod``) so all three
    language families resolve through one definitions table.
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for lang, pat in _PATTERNS.items():
                sub = pdf[pdf["lang"] == lang]
                if sub.empty:
                    continue
                keys = sub["repo"] + "::" + sub["path"]
                hits = sub["content"].str.extractall(pat, flags=2 | 8)  # I | M
                if hits.empty:
                    continue
                idx = hits.index.get_level_values(0)
                mods = hits[0].str.rsplit(".", n=1).str[-1]
                outs.append(pd.DataFrame({
                    "src_key": keys.loc[idx].to_numpy(),
                    "ref_module": mods.to_numpy(),
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)
            else:
                yield pd.DataFrame({"src_key": pd.Series(dtype="str"),
                                    "ref_module": pd.Series(dtype="str")})

    return repos.select("repo", "path", "lang", "content").mapInPandas(
        parse, schema="src_key string, ref_module string"
    )


def definitions_table(repos: DataFrame) -> DataFrame:
    """``(module string, def_key string)`` — module defined by each file.

    Module name = basename of ``path`` without extension (file ``src/m7.py``
    defines ``m7``). Pure Catalyst expressions — stays in codegen.
    """
    base = F.element_at(F.split(F.col("path"), "/"), -1)
    module = F.regexp_replace(base, r"\.[A-Za-z]+$", "")
    return repos.select(
        module.alias("module"),
        F.concat_ws("::", F.col("repo"), F.col("path")).alias("def_key"),
    ).distinct()


def resolve_references(refs: DataFrame, defs: DataFrame) -> DataFrame:
    """``(src_key, dst_key)`` — each parsed reference resolved to the file
    that defines its module (inner join: unresolvable modules drop out).

    No aggregation and no state, so the same call serves the batch
    projection and, over a streaming ``refs``, an append-mode stream-static
    join."""
    return refs.join(defs, refs.ref_module == defs.module, "inner").select(
        F.col("src_key"), F.col("def_key").alias("dst_key"))


def weighted_edges(resolved: DataFrame, id_map: DataFrame) -> DataFrame:
    """``(src, dst, weight)`` — resolved pairs mapped to dense ids and
    weighted by reference COUNT (Aggregation.COUNT). Counts compose by
    summation, which is what makes incremental deltas merge exactly to the
    batch projection (streaming/ingest.merge_deltas)."""
    return (map_edges_to_ids(resolved, id_map)
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("double").alias("weight")))


def build_link_graph(repos: DataFrame, granularity: str = "file"):
    """Full projection: repos table → (id_map, nodes, edges) link graph.

    ``granularity='file'`` → file→file edges; ``'repo'`` → repo→repo edges
    (SURVEY §1.4). Edges are weighted by reference count (Aggregation.COUNT)
    and deduped. Self-edges are kept at file level, dropped at repo level.

    Returns ``(id_map, nodes, edges)`` where edges = (src, dst, weight).
    """
    resolved = resolve_references(extract_references(repos),
                                  definitions_table(repos))
    if granularity == "repo":
        to_repo = lambda c: F.split(F.col(c), "::").getItem(0)
        resolved = resolved.select(
            to_repo("src_key").alias("src_key"), to_repo("dst_key").alias("dst_key")
        ).where(F.col("src_key") != F.col("dst_key"))
        keys = repos.select(F.col("repo").alias("orig_key"))
    else:
        keys = repos.select(F.concat_ws("::", "repo", "path").alias("orig_key"))

    id_map = assign_dense_ids(keys)
    nodes = id_map.select("node_id", "orig_key")
    return id_map, nodes, weighted_edges(resolved, id_map)
