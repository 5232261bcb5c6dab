#!/usr/bin/env python3
"""Benchmark of the link-graph engine.

    python3 perfbench/run.py --workload repo-suite --seed 1 --seconds 10 --trace 0

Workloads (see spec.py and perfbench/LAYERS.md): ``repo-suite`` and
``incremental-ingest``. Run from the repository root.

Each run makes its inputs from ``--seed`` in a child process of their own
unless they are cached under perfbench/.cache by their generation
parameters (with NumPy oracle results beside them), then starts one fresh
child process (its own JVM) at ``local[<cores>]`` that sets up, runs passes
for ``--seconds`` and checks every output against the oracle. This process samples the resident memory of the child's whole
process tree. Human-readable metrics go to stdout first; the last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (Spark event log plus one job group per span).
Scratch files live under perfbench/.work and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402

# the child's time limit; stopping a child that overran it takes up to 15 s
# more, and the whole run must end within 180 s
RUN_LIMIT_S = 160
DRIVER_MEMORY = "4g"
PAGE = os.sysconf("SC_PAGE_SIZE")


def child_env(work: str) -> dict:
    """os.environ without engine knobs, sized to this machine, with every
    scratch location inside the work dir."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")}
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, start time) of every live, non-zombie process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        if fields[0] != "Z":
            out[int(d)] = (int(fields[1]), int(fields[19]))
    return out


class ProcessTree:
    """The descendants of one child process, remembered by (pid, start
    time) so that orphans are still found and reused pids are not."""

    def __init__(self, pid: int):
        self.root = pid
        self.seen: set[tuple[int, int]] = set()
        self.peak_bytes = 0

    def members(self) -> list[int]:
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        todo = [self.root] + [pid for pid, start in self.seen
                              if table.get(pid, (0, None))[1] == start]
        found: set[int] = set()
        while todo:
            pid = todo.pop()
            if pid in found or pid not in table:
                continue
            found.add(pid)
            self.seen.add((pid, table[pid][1]))
            todo.extend(kids.get(pid, []))
        return sorted(found)

    def sample(self) -> None:
        total = 0
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            except (OSError, IndexError, ValueError):
                pass
        self.peak_bytes = max(self.peak_bytes, total)

    def stop(self) -> None:
        """Terminate every remaining member and wait until all are gone."""
        for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
            pids = self.members()
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + wait_s
            while time.monotonic() < end and self.members():
                time.sleep(0.05)


def run_child(cfg: dict, env: dict, deadline: float):
    """Run workloads.py with ``cfg``; returns (exit code or None on
    timeout, peak tree RSS in bytes)."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "workloads.py"), json.dumps(cfg)],
        cwd=cfg["work_dir"], env=env, stdout=sys.stderr, stderr=sys.stderr)
    tree = ProcessTree(proc.pid)
    code = None
    try:
        while time.monotonic() < deadline:
            # sampling also records every descendant, so stop() finds the
            # ones the child leaves behind
            tree.sample()
            code = proc.poll()
            if code is not None:
                break
            time.sleep(0.2)
    finally:
        tree.stop()
        proc.wait()
    return code, tree.peak_bytes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()
    # a SIGTERM unwinds like an exception, so the child's process tree is
    # stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "graph_data_science_spark",
                                       "__init__.py")):
        print(f"no engine package under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2

    cache = os.path.join(HERE, ".cache")
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(work)
    try:
        return measure(args, cache, work, start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, cache: str, work: str, start: float) -> int:
    env = child_env(work)
    cfg = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace, "cache_dir": cache,
           "work_dir": work, "cpus": len(os.sched_getaffinity(0)),
           "result": os.path.join(work, "result.json")}
    deadline = start + RUN_LIMIT_S
    code, peak, generate_s = 0, 0, None
    if not all(spec.sidecar_ok(os.path.join(cache, name), p) for name, p
               in spec.cache_entries(args.workload, args.seed).items()):
        # in a JVM of its own: generating warms a JVM more than the warm-up
        # does, which made runs on fresh inputs about 20% faster
        t0 = time.monotonic()
        code, _ = run_child({**cfg, "mode": "gen"}, env, deadline)
        generate_s = time.monotonic() - t0
    result = {"attempted": 1, "failed": 1, "e2e": {}, "layer": {}, "info": {},
              "errors": [f"input generation exited with {code}"]}
    if code == 0:
        code, peak = run_child({**cfg, "mode": "run"}, env, deadline)
        try:
            with open(cfg["result"]) as fh:
                result = json.load(fh)
        except (OSError, ValueError):
            result["errors"] = [f"run exited with {code} and left no result"]
    if code is None:  # timed out: the unfinished operation failed
        result["attempted"] += 1
        result["failed"] += 1
        result["errors"].append(f"timed out after {RUN_LIMIT_S} s")
    # printed but not declared: the JVM grows its heap at moments that
    # depend on collector timing, so the peak spreads too much to bound
    result["info"]["peak_rss_mb"] = peak / 2**20
    if generate_s is not None:
        result["info"]["generate_s"] = generate_s

    units = {n: u for n, u, _, _ in spec.END_TO_END}
    units.update(spec.PER_LAYER, peak_rss_mb="MB", freshness_batches="count",
                 passes="count", load1_at_start="",
                 superstep_edges_per_s="edges/s")
    print(f"# {args.workload} seed={args.seed} cpus={cfg['cpus']} "
          f"trace={args.trace}")
    for name, value in sorted({**result["info"], **result["e2e"],
                               **result["layer"]}.items()):
        if isinstance(value, (int, float)):
            print(f"# {name} = {value:.6g} {units.get(name, _unit(name))}")
    for name, counters in sorted(result.get("spans", {}).items()):
        print(f"# span {name}: " + ", ".join(
            f"{k}={v:.6g}" for k, v in sorted(counters.items())))
    print(f"# error_rate = {result['failed'] / max(result['attempted'], 1):.6g}"
          f" ({result['failed']} failed of {result['attempted']} operations;"
          " each engine call and each ingest batch is one)")
    for err in result["errors"]:
        print("# error: " + err.replace("\n", " | "))
    trace_overhead(args, cache, result)

    names = ([n for n, _, _, _ in spec.END_TO_END] if args.trace == 0
             else [n for n, _ in spec.PER_LAYER])
    metrics = {n: {"value": float(result[("e2e", "layer")[args.trace]][n]),
                   "unit": units[n]}
               for n in names if n in result[("e2e", "layer")[args.trace]]}
    correct = (result["failed"] == 0 and result["attempted"] > 0
               and len(metrics) == len(names))
    # a failed check is reported by "correct", not by the exit code
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


def trace_overhead(args, cache: str, result: dict) -> None:
    """An untraced run keeps its time_to_results_s in the cache; a traced
    run of the same workload and seed prints its own against it."""
    path = os.path.join(cache, f"untraced-{args.workload}-s{args.seed}.json")
    ttr = result["e2e"].get("time_to_results_s")
    if ttr is None or result["failed"]:
        return
    if args.trace == 0:
        with open(path, "w") as fh:
            json.dump({"time_to_results_s": ttr}, fh)
        return
    try:
        with open(path) as fh:
            base = json.load(fh)["time_to_results_s"]
    except (OSError, ValueError, KeyError):
        print("# trace_overhead: no untraced run of this workload and seed")
        return
    print(f"# trace_overhead = {ttr / base - 1:.6g} (time_to_results_s "
          f"{ttr:.6g} s traced vs {base:.6g} s untraced, same seed)")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    return ""


if __name__ == "__main__":
    sys.exit(main())
