#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Primary metric (BASELINE.md): edges/sec per superstep across the iterative
graph suite (PageRank to 1e-7 convergence, WCC, label propagation) plus
wall times for triangle count and the training-data ops. ``value`` is the
total wall seconds over all headline queries.

Isolation (round 4): each query runs in its OWN subprocess with a fresh
SparkSession/JVM — no cache carry-over, no cross-query GC pressure — and
records the 1-minute loadavg at query start so a contended host window is
visible in the record instead of poisoning it silently (the round-3 driver
bench landed in such a window and three queries recorded 2-10× outliers
that no clean run reproduced). Setup (graph/table load, edge persist) is
per-child and excluded from the timed region, as before. Set
SPARK_GRAFT_INPROC=1 to force the old single-session mode (used by tests).

Scaling protocol (sandbox proxy): run this file twice — SPARK_GRAFT_CPUS=8
and SPARK_GRAFT_CPUS=32 — on the same SF dir; efficiency = (T8/T32)/4.
BENCH/BASELINE.md records the measured pairs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

QUERY_NAMES = [
    "pagerank", "pagerank_csr", "wcc", "label_propagation",
    "triangle_count", "louvain", "betweenness_256",
    "minhash_lsh", "near_dup_clusters", "text_stats", "lm_score",
    "embedding_topk",
]

# input each query needs loaded (setup, untimed): the derived link graph,
# the documents table, or the embeddings table
_NEEDS = {
    "pagerank": "graph", "pagerank_csr": "graph", "wcc": "graph",
    "label_propagation": "graph", "triangle_count": "graph",
    "louvain": "graph", "betweenness_256": "graph",
    "minhash_lsh": "docs", "near_dup_clusters": "docs",
    "text_stats": "docs", "lm_score": "docs",
    "embedding_topk": "embs",
}


def _run_query(name: str, spark, sf_dir: str):
    """Setup + timed run of one headline query. Returns (sec, extras)."""
    from pyspark.sql import functions as F

    extras: dict = {}
    kind = _NEEDS[name]
    if kind == "graph":
        from graph_data_science_spark.sources.tpch_graph import build_graph
        graph = build_graph(spark, sf_dir)
        graph.edges.persist()
        extras["n_edges"] = n_edges = graph.edge_count()
        extras["n_nodes"] = graph.node_count()
    elif kind == "docs":
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.persist().count()
    else:
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"))
        embs.persist().count()

    t0 = time.monotonic()
    if name in ("pagerank", "pagerank_csr"):
        # pagerank_csr is a legacy name kept for the CLI: the same join plan
        from graph_data_science_spark.operators.pagerank import pagerank
        pr = pagerank(graph)
        pr.scores.agg(F.sum("score")).first()
        sec = time.monotonic() - t0
        extras[f"{name}_supersteps"] = pr.ran_iterations
        extras[f"{name}_edges_per_sec_per_superstep"] = (
            n_edges * pr.ran_iterations / sec)
    elif name == "wcc":
        from graph_data_science_spark.operators.wcc import wcc
        w = wcc(graph)
        w.components.agg(F.countDistinct("component")).first()
        sec = time.monotonic() - t0
        extras["wcc_supersteps"] = w.ran_iterations
        extras["wcc_edges_per_sec_per_superstep"] = (
            2 * n_edges * max(1, w.ran_iterations) / sec)
    elif name == "label_propagation":
        from graph_data_science_spark.operators.label_propagation import (
            label_propagation)
        lp = label_propagation(graph, max_iterations=10)
        lp.labels.agg(F.countDistinct("label")).first()
        sec = time.monotonic() - t0
        extras["lpa_supersteps"] = lp.ran_iterations
    elif name == "triangle_count":
        from graph_data_science_spark.operators.triangle import triangle_count
        tc = triangle_count(graph)
        sec = time.monotonic() - t0
        extras["n_triangles"] = tc.global_count
        extras["triangle_edges_per_sec"] = n_edges / sec
    elif name == "louvain":
        from graph_data_science_spark.operators.louvain import louvain
        lv = louvain(graph, max_levels=2, max_iterations=4)
        lv.communities.agg(F.countDistinct("community")).first()
        sec = time.monotonic() - t0
        extras["louvain_modularity"] = round(lv.modularity, 6)
    elif name == "betweenness_256":
        from graph_data_science_spark.operators.centrality import betweenness
        # sampled Brandes: 256 deterministic sources — the scale posture
        srcs = [r[0] for r in graph.nodes.select("node_id")
                .orderBy("node_id").limit(256).collect()]
        t0 = time.monotonic()   # source pick is setup, not the kernel
        betweenness(graph, sources=srcs).agg(F.sum("score")).first()
        sec = time.monotonic() - t0
    elif name == "minhash_lsh":
        from graph_data_science_spark.operators.dedup import minhash_lsh_pairs
        minhash_lsh_pairs(docs, num_hashes=8, bands=4).count()
        sec = time.monotonic() - t0
    elif name == "near_dup_clusters":
        # the end-to-end dedup DECISION (LSH pairs -> WCC over the pair
        # graph -> keep/drop table)
        from graph_data_science_spark.operators.pipeline_ops import (
            near_duplicate_clusters)
        (near_duplicate_clusters(docs, num_hashes=8, bands=4)
         .agg(F.sum(F.col("is_duplicate").cast("long"))).first())
        sec = time.monotonic() - t0
    elif name == "text_stats":
        from graph_data_science_spark.operators.text import (
            quality_score, token_count)
        token_count(docs).agg(F.sum("n_tokens")).first()
        quality_score(docs).agg(F.avg("quality")).first()
        sec = time.monotonic() - t0
    elif name == "lm_score":
        # the CCNet-style LM quality filter (self-trained Stupid-Backoff
        # trigram, integer micro-nat scoring)
        from graph_data_science_spark.operators.lm import ngram_lm_score
        ngram_lm_score(docs).agg(F.avg("lm_score")).first()
        sec = time.monotonic() - t0
    elif name == "embedding_topk":
        from graph_data_science_spark.operators.similarity import cosine_topk
        cosine_topk(embs, k=10).count()
        sec = time.monotonic() - t0
    else:
        raise ValueError(name)
    return sec, extras


def _child(name: str, sf_dir: str, cpus: int) -> None:
    """--one mode: fresh session, one query, one JSON line."""
    from graph_data_science_spark.session import get_spark
    load1 = os.getloadavg()[0]
    spark = get_spark(app_name=f"gds-bench-{name}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    # untimed warmup: exercise codegen + shuffle + python-worker spin-up so
    # a fresh JVM's first-job JIT cost doesn't land inside the timed kernel
    # (the old single-session bench was warm by the time later queries ran)
    spark.range(1_000_000).selectExpr("id % 97 k", "id v") \
        .groupBy("k").sum("v").collect()
    from pyspark.sql import functions as F
    (spark.range(1000).withColumn("g", F.col("id") % 8)
     .groupBy("g")
     .applyInPandas(lambda p: p.head(1), schema="id long, g long").count())
    # same-SHAPE untimed warmup at the smallest SF: a fresh JVM charges
    # first-execution codegen/JIT of each query's specific plan shapes to
    # the first run (measured ~1-4 s per query at sf0.1 — the whole
    # text_stats/label_propagation clean-window delta vs the warm
    # single-session r02 floors, BENCH/BASELINE.md §B.12); running the
    # query once at sf0.001 warms exactly those shapes so the timed run
    # measures the kernel, matching the r02 warm-session condition
    tiny = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(tiny) and os.path.abspath(tiny) != os.path.abspath(sf_dir):
        try:
            _run_query(name, spark, tiny)
        except Exception:
            pass  # warmup is best-effort; the timed run decides
    sec, extras = _run_query(name, spark, sf_dir)
    print(json.dumps({"name": name, "sec": sec, "loadavg": load1,
                      "extras": extras}))


def _parse_sf(sf_dir: str):
    tail = sf_dir.rstrip("/").split("sf")[-1]
    try:
        return float(tail)
    except ValueError:
        return sf_dir.rstrip("/").rsplit("/", 1)[-1]  # label, not a number


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _parse_sf(sf_dir)

    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        _child(sys.argv[2], sf_dir, cpus)
        return

    only = os.environ.get("SPARK_GRAFT_ONLY")
    names = ([n for n in only.split(",") if n in QUERY_NAMES]
             if only else QUERY_NAMES)

    timings: dict[str, float] = {}
    loadavg: dict[str, float] = {}
    extras: dict = {}

    # safety valve: if the harness SIGTERMs the bench mid-run (the
    # subprocess isolation costs ~30 s of JVM startup per query), emit the
    # JSON line with whatever finished instead of dying silently
    import signal

    def _emit_partial(signum, frame):
        _emit(timings, loadavg, extras, sf, cpus, partial=True)
        sys.exit(1)

    signal.signal(signal.SIGTERM, _emit_partial)
    if os.environ.get("SPARK_GRAFT_INPROC") == "1":
        from graph_data_science_spark.session import get_spark
        spark = get_spark(app_name=f"gds-bench-sf{sf}",
                          master=f"local[{cpus}]", shuffle_partitions=cpus)
        for name in names:
            loadavg[name] = round(os.getloadavg()[0], 2)
            sec, ex = _run_query(name, spark, sf_dir)
            timings[name] = sec
            extras.update(ex)
    else:
        env = dict(os.environ)
        for name in names:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", name],
                env=env, capture_output=True, text=True, timeout=3600)
            lines = [l for l in out.stdout.splitlines()
                     if l.startswith('{"name"')]
            if out.returncode != 0 or not lines:
                sys.stderr.write(out.stderr[-2000:])
                timings[name] = None   # strict-JSON: null, not NaN
                continue
            rec = json.loads(lines[-1])
            timings[name] = rec["sec"]
            loadavg[name] = round(rec["loadavg"], 2)
            extras.update(rec["extras"])

    _emit(timings, loadavg, extras, sf, cpus)


def _emit(timings: dict, loadavg: dict, extras: dict, sf, cpus: int,
          partial: bool = False) -> None:
    extras = dict(extras)
    n_nodes = extras.pop("n_nodes", None)
    n_edges = extras.pop("n_edges", None)
    total = sum(v for v in timings.values() if v is not None)
    rec = {
        "metric": "edges/sec per superstep (PageRank 1e-7 + WCC + LPA) "
                  "over derived link graph",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: (round(v, 3) if v is not None else None)
                    for k, v in timings.items()},
        "sf": sf,
        "cpus": cpus,
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "isolation": ("in-process" if os.environ.get("SPARK_GRAFT_INPROC")
                      else "fresh-session-per-query"),
        "loadavg": loadavg,
        **{k: (round(v, 1) if isinstance(v, float) else v)
           for k, v in extras.items()},
    }
    if partial:
        rec["partial"] = True
    print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
