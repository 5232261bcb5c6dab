#!/usr/bin/env python
"""Two-parallelism scaling evidence (north rule: ≥0.8 efficiency N → 4N).

No real cluster exists in this sandbox, so the rule's two-cluster-size
criterion is evidenced by running the SAME job on the SAME input at two
local parallelism levels (BASELINE.md protocol), each in its own JVM:

1. generate the deterministic synthetic power-law graph (seeded
   gds.graph.generate analog), sized so one PageRank superstep takes
   seconds at local[8];
2. run the iterative suite (PageRank fixed 6 supersteps, WCC, LPA,
   triangle count) at local[N] and local[4N];
3. efficiency = (T_N / T_4N) / 4 per algorithm;
4. also record the sf0.1 driver-table bench (correctness-scale numbers).

Writes BENCH/BASELINE.md.

Usage: python scripts/scaling_bench.py [n_small] [n_big] [n_nodes] [avg_deg]
"""

from __future__ import annotations

import json
import os
import sys

from _common import REPO, clean_env, last_json, run_cmd

INPUT = "/tmp/gds_scaling/edges.parquet"


# measured on this host (docs/SCALE_NOTES.md §9): a growing 48 g heap makes
# ParallelGC expand instead of collect, and first-touch page faults run at
# ~320 MB/s here, so growth-era GC pauses hit 14.8 s and supersteps wander
# 14→42 s on identical work. A fixed pre-touched right-sized heap (~2× the
# observed 11 g committed peak) flattens supersteps (GC total 48 s → 1.8 s,
# max pause 0.39 s) at a one-time ~75 s startup cost paid outside the
# per-algorithm timers.
SCALE_GC = "-XX:+UseParallelGC -Xms24g -XX:+AlwaysPreTouch"


def run_scale_job(cpus: int, parts: int = 32) -> dict:
    # fixed partition count at BOTH parallelism levels — the data layout is
    # a property of the dataset, not the cluster size; a real N → 4N
    # executor scale-up spreads the SAME partitioning over more slots.
    # clean_env scrubs leftover SPARK_GRAFT_ALGOS/PR_ITERS shell
    # exports so the headline run always measures the documented protocol.
    env = clean_env(SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_PARTS=parts)
    env.setdefault("SPARK_DRIVER_MEMORY", "24g")
    env.setdefault("SPARK_GRAFT_GC", SCALE_GC)
    return last_json(run_cmd(
        [sys.executable, os.path.join(REPO, "scripts", "scale_job.py"), INPUT],
        env))


def main() -> None:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    # round-3 standard input: 8M nodes (~49M edges) — big enough that one
    # pagerank superstep is tens of seconds at local[2]
    n_nodes = sys.argv[3] if len(sys.argv) > 3 else "8000000"
    avg_deg = sys.argv[4] if len(sys.argv) > 4 else "8"

    # gen_scaling_input reuses an existing complete output only when its
    # _GEN_PARAMS.json sidecar matches these parameters (deterministic
    # seed 42 ⇒ same-params reuse is byte-equivalent)
    run_cmd([sys.executable,
             os.path.join(REPO, "scripts", "gen_scaling_input.py"),
             INPUT, n_nodes, avg_deg])

    small = run_scale_job(n_small)
    big = run_scale_job(n_big)

    # sf0.1 bench always at the box's full width (local[32]) so §B numbers
    # stay comparable across rounds regardless of the scaling pair chosen
    bench_cpus = max(n_big, 32)
    env01 = clean_env(SPARK_GRAFT_CPUS=bench_cpus,
                      SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1")
    sf01 = last_json(run_cmd(
        [sys.executable, os.path.join(REPO, "bench.py")], env01))

    ratio = n_big / n_small
    algos = [("pagerank", "pagerank_s"), ("wcc", "wcc_s"),
             ("label_propagation", "lpa_s"), ("triangle_count", "tc_s")]
    md = [
        "# BENCH/BASELINE — measured scaling evidence",
        "",
        "## A. Two-parallelism scaling (north-rule criterion, sandbox proxy)",
        "",
        f"Input: deterministic seeded power-law graph (gds.graph.generate "
        f"analog, seed 42, max hub degree 512): {small['n_nodes']:,} nodes, "
        f"{small['n_edges']:,} edges, parquet at `{INPUT}`.",
        "",
        f"Protocol (BASELINE.md): identical job, identical input, "
        f"local[{n_small}] vs local[{n_big}], separate JVMs. "
        f"Efficiency = (T_{n_small} / T_{n_big}) / {ratio:.0f}; target ≥ 0.8. "
        "PageRank runs a fixed 6 supersteps (tolerance 0) so both levels do "
        "identical work.",
        "",
        f"| algorithm | local[{n_small}] s | local[{n_big}] s | speedup | efficiency |",
        "|---|---|---|---|---|",
    ]
    total_s = total_b = 0.0
    for name, key in algos:
        ts, tb = small[key], big[key]
        total_s += ts
        total_b += tb
        md.append(f"| {name} | {ts:.1f} | {tb:.1f} | {ts/tb:.2f}× | {(ts/tb)/ratio:.2f} |")
    md += [
        f"| **iterative suite total** | {total_s:.1f} | {total_b:.1f} | "
        f"{total_s/total_b:.2f}× | **{(total_s/total_b)/ratio:.2f}** |",
        "",
        "Throughput (edges/sec per superstep):",
        "",
        f"- PageRank: {small['pagerank_eps']:,.0f} → {big['pagerank_eps']:,.0f}",
        f"- WCC ({small['wcc_supersteps']} supersteps): {small['wcc_eps']:,.0f} → {big['wcc_eps']:,.0f}",
        f"- Triangle count ({small['n_triangles']:,} triangles): "
        f"{small['tc_eps']:,.0f} → {big['tc_eps']:,.0f} edges/sec",
        "",
        "## B. Driver-table bench (sf0.1, correctness-scale)",
        "",
        f"`bench.py` at local[{bench_cpus}] on `/root/testdata/sf0.1` "
        f"({sf01['n_nodes']:,} nodes, {sf01['n_edges']:,} edges):",
        "",
        "| query | seconds |",
        "|---|---|",
    ]
    for qn, sec in sf01["queries"].items():
        md.append(f"| {qn} | {sec:.2f} |")
    md += [
        "",
        "Raw JSON:",
        "```json",
        json.dumps(small),
        json.dumps(big),
        json.dumps(sf01),
        "```",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # carry over everything this script does not own — §A/§B (its own
    # tables) are regenerated; §A.2 (corpus ops), the per-round §B.x
    # subsections, and §C history are append-only and written by hand.
    # Round 4 lost-data near-miss: the old carry-over started at "## C."
    # and would have dropped the hand-written sections between §B and §C.
    history = ""
    if os.path.exists(path):
        prev = open(path).read()
        idxs = [i for i in (prev.find("\n## A.2"), prev.find("\n### B."),
                            prev.find("\n## C.")) if i >= 0]
        if idxs:
            history = prev[min(idxs):]
    with open(path, "w") as fh:
        fh.write("\n".join(md) + history + "\n")
    eff = (total_s / total_b) / ratio
    print(f"wrote {path}; iterative-suite efficiency {eff:.2f}")


if __name__ == "__main__":
    main()
