"""Workloads, sizes and metric names of the link-graph benchmark.

Shared by ``run.py`` (the parent that the benchmark command starts) and
``workloads.py`` (the child that runs the engine). Importing this module
imports only NumPy and the standard library.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

# Power-law fixtures come from the engine's own seeded generator
# (sources/generator.random_graph). The repo table is a pure function of the
# planted edge list, so the projected link graph is known exactly.
REPO_PARAMS = {
    "n_files": 10_000,
    "avg_degree": 8,
    "max_degree": 1_000,
    "files_per_repo": 16,
}

#: a run's repo table is table ``--seed mod TABLE_POOL``: generating one
#: takes about 30 s, so a checkout makes at most this many; the ingest
#: batches use the whole seed
TABLE_POOL = 3

WORKLOADS = {
    "repo-suite": {
        "family": "repo",
        "gen": REPO_PARAMS,
        "min_passes": 1,
        "why": ("the paper's pipeline: a seeded 10k-file repo table (about 75k "
                "link edges) through build_link_graph, PageRank and triangle "
                "count; supersteps are bound by per-job cost"),
    },
    "incremental-ingest": {
        "family": "repo",
        "gen": REPO_PARAMS,
        "batch_files": 200,
        "imports_per_file": 2,
        # a batch takes about half as long as a repo-suite pass, so a run
        # lands two and reports their medians
        "min_passes": 2,
        "max_batches": 3,
        "why": ("writes beside reads on the repo-suite graph: batches of 200 "
                "files gaining 2 imports each through streaming ingest, "
                "merge_deltas, pagerank_incremental and wcc_incremental"),
    },
}

#: set-up runs once untimed, then this many times; setup_s is the median
SETUP_REPS = 4

#: (name, unit, better, bound) of the end-to-end metrics every workload
#: reports; bound is the share of the parent's median by which a metric may
#: worsen before a change counts as a regression
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("time_to_results_s", "s", "lower", 0.25),
    ("pagerank_s", "s", "lower", 0.25),
]

RUN_SECONDS = 10

#: per-span counters read from the Spark event log
SPAN_COUNTERS = [
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_ms", "ms"),
    ("task_skew", "ratio"),
]

#: the engine call each workload makes for a role; per-layer metrics are
#: named by role so every workload reports every one of them
ROLE_SPANS = {
    "input": {"repo-suite": "sources.build_link_graph",
              "incremental-ingest": "streaming.ingest"},
    "pagerank": {"repo-suite": "operators.pagerank",
                 "incremental-ingest": "operators.pagerank_incremental"},
    "triangle": {"repo-suite": "operators.triangle"},
    "wcc": {"incremental-ingest": "operators.wcc_incremental"},
}

#: span → the printed end-to-end metric that is the median wall of its calls
SPAN_TIMES = {
    "sources.build_link_graph": "projection_s",
    "operators.pagerank": "pagerank_s",
    "operators.triangle": "triangle_s",
    "streaming.ingest": "ingest_s",
    "operators.pagerank_incremental": "pagerank_update_s",
    "operators.wcc_incremental": "wcc_update_s",
}

#: (name, unit) of the per-layer metrics every workload reports traced
PER_LAYER = (
    [("session.start_s", "s"),
     ("graph.degrees_s", "s"),
     ("pregel.supersteps", "count"),
     ("pregel.blocks", "count"),
     ("pregel.block_ms_p50", "ms"),
     ("pregel.first_block_ms", "ms"),
     ("pregel.active_ratio", "ratio"),
     ("sources.extract_references_s", "s"),
     ("sources.assign_dense_ids_s", "s"),
     ("sources.refs_rows", "count"),
     ("sources.resolve_ratio", "ratio"),
     ("streaming.micro_batches", "count"),
     ("streaming.pending_rows", "count")]
    + [(f"{role}.{c}", u) for role in ROLE_SPANS for c, u in SPAN_COUNTERS]
    + [(f"pass.{c}", u) for c, u in SPAN_COUNTERS
       if c not in ("self_s", "task_skew")]
    + [("unattributed.jobs", "count"), ("unattributed.tasks", "count")]
)


SIDECAR = "_GEN_PARAMS.json"


def cache_entries(workload: str, seed: int) -> dict[str, dict]:
    """Cache directory name → generation parameters of every input the
    workload reads. A directory is complete when its ``_GEN_PARAMS.json``
    sidecar equals these parameters."""
    wl = WORKLOADS[workload]
    base = {"family": wl["family"], "seed": seed % TABLE_POOL, **wl["gen"]}
    entries = {_entry_name(base): base}
    if workload == "incremental-ingest":
        state = {"family": "ingest", "seed": seed,
                 "table_seed": base["seed"], **wl["gen"],
                 **{k: wl[k] for k in ("batch_files", "imports_per_file",
                                       "max_batches")}}
        entries[_entry_name(state)] = state
    return entries


def sidecar_ok(path: str, params: dict) -> bool:
    """Whether the cache directory ``path`` holds complete inputs made
    with exactly ``params`` (the sidecar is written last)."""
    try:
        with open(os.path.join(path, SIDECAR)) as fh:
            return json.load(fh) == params
    except (OSError, ValueError):
        return False


def _entry_name(params: dict) -> str:
    digest = hashlib.sha1(json.dumps(params, sort_keys=True).encode())
    return f"{params['family']}-s{params['seed']}-{digest.hexdigest()[:10]}"


def import_line(lang: str, module: int) -> str:
    """One import of module ``m{module}`` in the syntax of ``lang``."""
    if lang == "py":
        return f"import m{module}"
    if lang == "c":
        return f'#include "m{module}.h"'
    return f"import org.example.m{module};"


def delta_batch(seed: int, batch: int, n_files: int, batch_files: int,
                imports_per_file: int) -> tuple[np.ndarray, np.ndarray]:
    """Planted ``(file, imported file)`` pairs added by ingest batch
    ``batch``: ``batch_files`` distinct files each gain
    ``imports_per_file`` imports of uniformly drawn other files."""
    rng = np.random.default_rng([seed, batch])
    files = rng.choice(n_files, size=batch_files, replace=False)
    src = np.repeat(files, imports_per_file)
    dst = rng.integers(0, n_files - 1, size=src.size)
    dst = dst + (dst >= src)  # never import yourself
    return src.astype(np.int64), dst.astype(np.int64)


def benchmark_json() -> dict:
    """The repository's BENCHMARK.json, generated from this module."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w["why"]}
                      for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, u, b, bound in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": _better(n)}
                      for n, u in PER_LAYER],
    }


def _better(name: str) -> str:
    return "higher" if name == "sources.resolve_ratio" else "lower"


if __name__ == "__main__":
    # python3 perfbench/spec.py > BENCHMARK.json
    print(json.dumps(benchmark_json(), indent=2))
