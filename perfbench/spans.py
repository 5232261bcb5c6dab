"""Benchmark-side spans and per-span counters from the Spark event log.

Every call into an engine module runs inside a :class:`Tracer` span. With
tracing on, the span also tags the Spark jobs it submits with a job group
``<span name>#<span id>``; after the session stops, :func:`span_counters`
reads the event log and attributes each stage's tasks to the span whose
group submitted it. Jobs without a group (threads the engine starts itself,
such as the Pregel snapshot writer) are reported as ``unattributed``.
Nothing is added inside the engine.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

#: group for the benchmark's own jobs (loading, checks) outside any span
HARNESS_GROUP = "bench.harness"


class Tracer:
    """Nested wall-clock spans kept in memory; optional Spark job groups."""

    def __init__(self, sc=None):
        self.sc = sc  # None: spans are timed but jobs are not tagged
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._tag(HARNESS_GROUP)

    def _tag(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(f"{name}#{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(f"{parent['name']}#{parent['id']}" if parent
                      else HARNESS_GROUP)

    def self_seconds(self) -> dict[int, float]:
        """Span id → its duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans
               if s["end"] is not None}
        for s in self.spans:
            if s["parent"] is not None and s["id"] in out and s["parent"] in out:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


def event_log_file(events_dir: str) -> str:
    """The single finished event log a stopped session left in the dir."""
    logs = [f for f in os.listdir(events_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, "
                           f"found {sorted(os.listdir(events_dir))}")
    return os.path.join(events_dir, logs[0])


_EVENTS = ('"SparkListenerJobStart"', '"SparkListenerStageSubmitted"',
           '"SparkListenerTaskEnd"')


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
            "stage_run_ms": {}}


def read_event_log(path: str) -> dict[str, dict]:
    """Job group → raw counters (jobs, tasks, bytes, GC, and each stage's
    task run times). Jobs with no group land under ``None``."""
    stage_group: dict[tuple, str | None] = {}
    groups: dict[str | None, dict] = {}
    with open(path) as fh:
        for line in fh:
            if not any(e in line[:64] for e in _EVENTS):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups.setdefault(g, _zero())["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
            else:
                g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                c = groups.setdefault(g, _zero())
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                c["tasks"] += 1
                c["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                c["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                            + rd.get("Local Bytes Read", 0))
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["stage_run_ms"].setdefault(ev["Stage ID"], []).append(
                    m.get("Executor Run Time", 0))
    return groups


def _skew(stage_run_ms: dict) -> float:
    """max ÷ median task run time in the stage with the most task time."""
    if not stage_run_ms:
        return 0.0
    heaviest = max(stage_run_ms.values(), key=sum)
    return max(heaviest) / max(statistics.median(heaviest), 1.0)


def _per_call(tracer: Tracer, groups: dict[str, dict]) -> dict[int, dict]:
    """Span id → the counters of the jobs its own group submitted."""
    self_s = tracer.self_seconds()
    out = {}
    for s in tracer.spans:
        if s["id"] not in self_s:
            continue
        raw = groups.get(f"{s['name']}#{s['id']}", _zero())
        rec = {k: v for k, v in raw.items() if k != "stage_run_ms"}
        rec["self_s"] = self_s[s["id"]]
        rec["task_skew"] = _skew(raw["stage_run_ms"])
        out[s["id"]] = rec
    return out


def subtree_totals(tracer: Tracer, groups: dict[str, dict],
                   root: str) -> dict[str, float]:
    """Median over the spans named ``root`` of the counts summed over each
    one and all spans nested in it."""
    per_call = _per_call(tracer, groups)
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    totals = []
    for s in tracer.spans:
        if s["name"] != root or s["id"] not in per_call:
            continue
        acc = dict.fromkeys(("jobs", "tasks", "shuffle_write_bytes",
                             "shuffle_read_bytes", "spill_bytes", "gc_ms"), 0)
        todo = [s["id"]]
        while todo:
            sid = todo.pop()
            for k in acc:
                acc[k] += per_call.get(sid, {}).get(k, 0)
            todo.extend(children.get(sid, []))
        totals.append(acc)
    if not totals:
        return {}
    return {k: statistics.median(t[k] for t in totals) for k in totals[0]}


def span_counters(tracer: Tracer, groups: dict[str, dict]) -> dict[str, dict]:
    """Span name → per-call counters (median self time and skew, mean of
    the counts) plus ``calls``; ``unattributed`` holds the jobs that carry
    no group."""
    calls: dict[str, list[dict]] = {}
    per_call = _per_call(tracer, groups)
    for s in tracer.spans:
        if s["id"] in per_call:
            calls.setdefault(s["name"], []).append(per_call[s["id"]])
    out = {}
    for name, recs in calls.items():
        agg = {k: statistics.fmean(r[k] for r in recs)
               for k in recs[0] if k not in ("self_s", "task_skew")}
        agg["self_s"] = statistics.median(r["self_s"] for r in recs)
        agg["task_skew"] = statistics.median(r["task_skew"] for r in recs)
        agg["calls"] = len(recs)
        out[name] = agg
    raw = groups.get(None, _zero())
    out["unattributed"] = {"jobs": raw["jobs"], "tasks": raw["tasks"],
                           "shuffle_write_bytes": raw["shuffle_write_bytes"],
                           "shuffle_read_bytes": raw["shuffle_read_bytes"]}
    return out
