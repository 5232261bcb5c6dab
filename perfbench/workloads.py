"""Child process of the benchmark: runs one workload against the engine's
public API, or generates its missing inputs.

``run.py`` starts this file in a fresh process (its own JVM) with a cleaned
environment and one JSON argument. With ``"mode": "gen"`` it writes the
missing cache entries; with ``"mode": "run"`` it writes its result as JSON
to the path the argument names. Set-up runs once untimed, then
``spec.SETUP_REPS`` times timed; then passes run back to back (closed loop,
one caller) until the time is up and the workload's ``min_passes`` ran.
Every engine call is one operation: an exception or an output that differs
from the NumPy oracle counts as a failure.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import oracle  # noqa: E402
import spec  # noqa: E402
from spans import (Tracer, event_log_file, read_event_log,  # noqa: E402
                   span_counters, subtree_totals)

from pyspark.sql import functions as F  # noqa: E402

from graph_data_science_spark.graph import Graph  # noqa: E402
from graph_data_science_spark.operators.pagerank import (  # noqa: E402
    pagerank, pagerank_incremental)
from graph_data_science_spark.operators.triangle import triangle_count  # noqa: E402
from graph_data_science_spark.operators.wcc import wcc_incremental  # noqa: E402
from graph_data_science_spark.session import get_spark  # noqa: E402
from graph_data_science_spark.sources.edge_extraction import (  # noqa: E402
    build_link_graph, extract_references)
from graph_data_science_spark.sources.generator import (  # noqa: E402
    POWER_LAW, random_graph)
from graph_data_science_spark.sources.idmap import assign_dense_ids  # noqa: E402
from graph_data_science_spark.sources.repo_source import (  # noqa: E402
    file_key, file_lang, file_path, file_repo, synthesize_repo_table,
    verify_content_sha)
from graph_data_science_spark.streaming.ingest import (  # noqa: E402
    merge_deltas, run_incremental_ingest)

PR_ATOL = 1e-6


def session(cfg: dict, app: str, events_dir: str | None = None):
    extra = {}
    if events_dir:
        os.makedirs(events_dir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + events_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    return get_spark(app_name=app, master=f"local[{cfg['cpus']}]",
                     extra_conf=extra)


def collect(df, *cols) -> list[np.ndarray]:
    """Columns of a result as NumPy arrays, rows ordered by the first."""
    pdf = df.select(*cols).toPandas().sort_values(cols[0], kind="stable")
    return [pdf[c].to_numpy() for c in cols]


# -- input generation (untimed, cached by parameters) -------------------------

def dense_ids(n_files: int, files_per_repo: int) -> np.ndarray:
    """Dense id of each planted file: ids are ordered by the ``repo::path``
    key, as the id map promises."""
    keys = [file_key(i, files_per_repo) for i in range(n_files)]
    order = sorted(range(n_files), key=keys.__getitem__)
    ids = np.empty(n_files, dtype=np.int64)
    ids[order] = np.arange(n_files)
    return ids


def read_pairs(path: str, cols=("src", "dst")) -> list[np.ndarray]:
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=list(cols))
    return [t.column(c).to_numpy().astype(np.int64) for c in cols]


def gen_repo(spark, d: str, p: dict) -> None:
    n = p["n_files"]
    planted = random_graph(spark, n, p["avg_degree"], POWER_LAW, seed=p["seed"],
                           max_degree=p["max_degree"])
    planted.write.mode("overwrite").parquet(os.path.join(d, "planted"))
    table = synthesize_repo_table(
        spark, spark.read.parquet(os.path.join(d, "planted")), n,
        files_per_repo=p["files_per_repo"], seed=p["seed"])
    table.write.mode("overwrite").parquet(os.path.join(d, "repos"))

    ids = dense_ids(n, p["files_per_repo"])
    s, t = read_pairs(os.path.join(d, "planted"))
    src, dst, w = oracle.unique_pairs(n, ids[s], ids[t])
    pr, pr_it = oracle.pagerank(n, src, dst, max_iterations=20)
    tri, tri_total = oracle.triangles(n, src, dst)
    np.savez(os.path.join(d, "oracle.npz"), n=n, ids=ids, src=src, dst=dst,
             weight=w, pagerank=pr, pagerank_iterations=pr_it,
             wcc=oracle.components(n, src, dst), triangles=tri,
             triangle_total=tri_total)


def write_table(path: str, **cols) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


def gen_ingest(d: str, p: dict, repo_dir: str) -> None:
    """Base state of the incremental workload, written without Spark: the
    repo-suite projection (id map, weighted edges) with its PageRank and WCC
    from the oracle, plus the oracle after every delta batch. repo-suite
    checks that the engine's PageRank equals this state's."""
    orc = np.load(os.path.join(repo_dir, "oracle.npz"))
    n, fpr = int(orc["n"]), p["files_per_repo"]
    keys = np.empty(n, dtype=object)
    keys[orc["ids"]] = [file_key(i, fpr) for i in range(n)]
    ids = np.arange(n, dtype=np.int64)
    write_table(os.path.join(d, "id_map"), node_id=ids, orig_key=keys.tolist())
    write_table(os.path.join(d, "edges"), src=orc["src"], dst=orc["dst"],
                weight=orc["weight"])
    write_table(os.path.join(d, "scores"), node_id=ids, score=orc["pagerank"])
    write_table(os.path.join(d, "components"), node_id=ids, component=orc["wcc"])

    src, dst, ranks = orc["src"], orc["dst"], orc["pagerank"]
    out = {"pagerank": [], "pagerank_iterations": [], "wcc": [],
           "merged_edges": [], "batch_edges": []}
    for b in range(p["max_batches"]):
        fs, ft = spec.delta_batch(p["seed"], b, n, p["batch_files"],
                                  p["imports_per_file"])
        bs, bd, _ = oracle.unique_pairs(n, orc["ids"][fs], orc["ids"][ft])
        src, dst, _ = oracle.unique_pairs(n, np.concatenate([src, bs]),
                                          np.concatenate([dst, bd]))
        ranks, it = oracle.pagerank(n, src, dst, max_iterations=20, prev=ranks)
        out["pagerank"].append(ranks)
        out["pagerank_iterations"].append(it)
        out["wcc"].append(oracle.components(n, src, dst))
        out["merged_edges"].append(src.size)
        out["batch_edges"].append(bs.size)
    np.savez(os.path.join(d, "oracle.npz"),
             **{k: np.asarray(v) for k, v in out.items()})


def generate(cfg: dict) -> None:
    """Make every missing cache entry of the workload."""
    entries = spec.cache_entries(cfg["workload"], cfg["seed"])
    paths = {name: os.path.join(cfg["cache_dir"], name) for name in entries}
    repo = next(name for name, p in entries.items() if p["family"] == "repo")
    # the ingest base state is derived from the repo entry: repo first
    for name in sorted(entries, key=lambda k: k != repo):
        p, d = entries[name], paths[name]
        if spec.sidecar_ok(d, p):
            continue
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if name == repo:
            spark = session(cfg, f"perfbench-gen-{cfg['workload']}")
            try:
                gen_repo(spark, d, p)
            finally:
                spark.stop()
        else:
            gen_ingest(d, p, paths[repo])
        with open(os.path.join(d, spec.SIDECAR), "w") as fh:
            json.dump(p, fh, sort_keys=True)


# -- the measured run ----------------------------------------------------------

class Run:
    """Operation accounting shared by the workloads."""

    def __init__(self, spark, cfg: dict, tracer: Tracer):
        self.spark = spark
        self.cfg = cfg
        self.tracer = tracer
        self.work = cfg["work_dir"]
        self.entries = {p["family"]: os.path.join(cfg["cache_dir"], name)
                        for name, p in spec.cache_entries(
                            cfg["workload"], cfg["seed"]).items()}
        repo = self.entries["repo"]
        self.orc = dict(np.load(os.path.join(repo, "oracle.npz")))
        self.repos_dir = os.path.join(repo, "repos")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ops: list[dict] = []  # one record per successful engine call
        self.passes: list[dict] = []
        self.probes: dict[str, float] = {}
        self.exhausted = False

    def op(self, span: str, fn, check, pass_rec: dict):
        """Time ``fn`` inside ``span``; verify its output with ``check``
        outside the timed region. Returns the output, or None on failure."""
        self.attempted += 1
        try:
            with self.tracer.span(span):
                t0 = time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            self.errors.append(f"{span}: {traceback.format_exc(limit=3)}")
            return None
        problem = check(out) if check else None
        if problem:
            self.failed += 1
            self.errors.append(f"{span}: {problem}")
            return None
        rec = {"span": span, "wall": wall, **(out.get("rec", {})
                                             if isinstance(out, dict) else {})}
        self.ops.append(rec)
        pass_rec["ops"].append(rec)
        return out

    def table_sample(self):
        """A tenth of the repo table: warming up on it costs as much plan
        and JIT compilation as on the whole table, in less time."""
        return self.spark.read.parquet(self.repos_dir).drop(
            "content_sha256").sample(fraction=0.1, seed=1)

    def probe(self, name: str, fn) -> None:
        with self.tracer.span(name):
            t0 = time.perf_counter()
            fn()
            self.probes[f"{name}_s"] = time.perf_counter() - t0

    def load_repos(self):
        """The repo table, persisted, after ``verify_content_sha`` (the
        paper's per-row sha256 invariant) found no bad row."""
        recorded = self.spark.read.parquet(self.repos_dir)
        repos = recorded.drop("content_sha256").persist()
        repos.count()
        bad = verify_content_sha(repos, recorded)
        if bad:
            raise RuntimeError(f"{bad} rows break the content sha256 invariant")
        return repos

    def probe_sources(self) -> None:
        refs = {}
        self.probe("sources.extract_references", lambda: refs.update(
            rows=extract_references(self.repos).count()))
        self.probes["sources.refs_rows"] = refs["rows"]
        self.probes["sources.resolve_ratio"] = float(
            self.orc["weight"].sum()) / max(refs["rows"], 1)
        keys = self.repos.select(F.concat_ws("::", "repo", "path").alias("orig_key"))
        self.probe("sources.assign_dense_ids",
                   lambda: assign_dense_ids(keys).unpersist())


def _pregel_rec(res, edges: int) -> dict:
    return {"supersteps": sum(m["fused"] for m in res.metrics),
            "blocks": [m["wall_ms"] for m in res.metrics],
            "rates": [edges * m["fused"] * 1e3 / m["wall_ms"]
                      for m in res.metrics if m["wall_ms"] > 0],
            "active": sum(m["active"] for m in res.metrics),
            "rows": sum(m["rows"] for m in res.metrics)}


def _mismatch(what: str, got, want, exact=True) -> str | None:
    got, want = np.asarray(got), np.asarray(want)
    if got.shape != want.shape:
        return f"{what}: {got.shape[0]} rows, oracle has {want.shape[0]}"
    ok = np.array_equal(got, want) if exact else np.allclose(
        got, want, rtol=0, atol=PR_ATOL)
    if ok:
        return None
    bad = int(np.sum(got != want)) if exact else int(
        np.sum(np.abs(got - want) > PR_ATOL))
    return f"{what}: {bad} of {want.size} values differ from the oracle"


class RepoSuite(Run):
    """Projection of the repo table, then PageRank and triangle count."""

    def __init__(self, *a):
        super().__init__(*a)
        self.repos = None
        self.graph = None

    def warm_up(self) -> None:
        """Project a sample of the table and run two PageRank supersteps on
        it, so that Python worker start-up, plan compilation and JIT
        compilation land outside the timed part."""
        _, nodes, edges = build_link_graph(self.table_sample())
        edges = edges.persist()
        pagerank(Graph(nodes=nodes, edges=edges), max_iterations=2).scores.count()
        edges.unpersist()

    def setup(self) -> None:
        if self.repos is not None:
            self.repos.unpersist()
        self.repos = self.load_repos()

    def _release(self) -> None:
        if self.graph is not None:
            self.graph.edges.unpersist()
            self.id_map.unpersist()
            self.graph = None

    def run_pass(self, rec: dict) -> None:
        self._release()
        orc, n = self.orc, int(self.orc["n"])
        m = int(orc["src"].size)

        def project():
            id_map, nodes, edges = build_link_graph(self.repos)
            edges = edges.persist()
            edges.count()
            return {"id_map": id_map, "graph": Graph(nodes=nodes, edges=edges)}

        def check_edges(out):
            s, t, w = collect(out["graph"].edges, "src", "dst", "weight")
            key = s * n + t
            o = np.argsort(key, kind="stable")
            return (_mismatch("edges", key[o], orc["src"] * n + orc["dst"])
                    or _mismatch("edge weights", w[o], orc["weight"]))

        out = self.op("sources.build_link_graph", project, check_edges, rec)
        if out is None:
            return
        self.id_map, self.graph = out["id_map"], out["graph"]
        g = self.graph

        def run_pr():
            res = pagerank(g)
            return {"rows": collect(res.scores, "node_id", "score"),
                    "rec": _pregel_rec(res, m)}

        def run_tri():
            res = triangle_count(g)
            return {"rows": collect(res.per_node, "node_id", "triangles"),
                    "total": res.global_count}

        ids = np.arange(n)
        self.op("operators.pagerank", run_pr, lambda o: (
            _mismatch("pagerank ids", o["rows"][0], ids)
            or _mismatch("pagerank", o["rows"][1], orc["pagerank"], exact=False)), rec)
        self.op("operators.triangle", run_tri, lambda o: (
            _mismatch("triangle ids", o["rows"][0], ids)
            or _mismatch("triangles", o["rows"][1], orc["triangles"])
            or _mismatch("triangle total", o["total"], orc["triangle_total"])), rec)

    def run_probes(self) -> None:
        self.probe_sources()
        if self.graph is not None:
            self.probe("graph.degrees",
                       lambda: self.graph.degrees("out").count())


class IncrementalIngest(Run):
    """Delta batches through streaming ingest, merge_deltas,
    pagerank_incremental and wcc_incremental."""

    def __init__(self, *a):
        super().__init__(*a)
        self.wl = spec.WORKLOADS["incremental-ingest"]
        self.base = self.entries["ingest"]
        self.batch_orc = dict(np.load(os.path.join(self.base, "oracle.npz")))
        self.cached: list = []
        self.rep = 0

    def warm_up(self) -> None:
        """Parse a sample of the table and run two PageRank supersteps on the
        base graph. The timed part never projects the whole table, so
        this skips the projection the repo-suite warm-up runs."""
        extract_references(self.table_sample()).count()
        read = self.spark.read.parquet
        graph = Graph(nodes=read(os.path.join(self.base, "id_map")),
                      edges=read(os.path.join(self.base, "edges")))
        pagerank(graph, max_iterations=2).scores.count()

    def setup(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.rep += 1
        d = os.path.join(self.work, f"ingest{self.rep}")
        shutil.rmtree(d, ignore_errors=True)
        self.drop, self.out = os.path.join(d, "drop"), os.path.join(d, "out")
        os.makedirs(self.drop)
        read = self.spark.read.parquet
        self.repos = self.load_repos()
        self.id_map = read(os.path.join(self.base, "id_map")).persist()
        self.scores = read(os.path.join(self.base, "scores")).persist()
        self.comps = read(os.path.join(self.base, "components")).persist()
        for df in (self.id_map, self.scores, self.comps):
            df.count()
        self.nodes = self.id_map.select("node_id", "orig_key")
        # the base edge table is the first delta: merge_deltas then folds
        # every batch onto it by summing reference counts
        shutil.copytree(os.path.join(self.base, "edges"),
                        os.path.join(self.out, "deltas"))
        self.cached = [self.repos, self.id_map, self.scores, self.comps]
        self.merged = None
        self.batch = 0
        self.exhausted = False

    def _land(self, b: int) -> None:
        """Write batch ``b`` into the drop zone: for each touched file, a row
        whose content is only its new import lines."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        n, fpr = int(self.orc["n"]), spec.REPO_PARAMS["files_per_repo"]
        fs, ft = spec.delta_batch(self.cfg["seed"], b, n, self.wl["batch_files"],
                                  self.wl["imports_per_file"])
        rows = {}
        for i, j in zip(fs.tolist(), ft.tolist()):
            rows.setdefault(i, []).append(spec.import_line(file_lang(i), j))
        files = sorted(rows)
        table = pa.table({
            "repo": [file_repo(i, fpr) for i in files],
            "path": [file_path(i) for i in files],
            "commit": [f"delta-{self.cfg['seed']}-{b}"] * len(files),
            "lang": [file_lang(i) for i in files],
            "content": ["\n".join(rows[i]) + "\n" for i in files],
        })
        tmp = os.path.join(self.work, f"batch-{b:05d}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.drop, f"batch-{b:05d}.parquet"))

    def run_pass(self, rec: dict) -> None:
        b = self.batch
        self.batch += 1
        self.exhausted = self.batch >= self.wl["max_batches"]
        orc = self.batch_orc
        n = int(self.orc["n"])
        deltas = os.path.join(self.out, "deltas")
        commits = os.path.join(self.out, "_checkpoint", "commits")
        self._land(b)

        def parts() -> set:
            return {f for f in os.listdir(deltas) if f.endswith(".parquet")}

        def n_commits() -> int:
            if not os.path.isdir(commits):
                return 0
            return sum(f.isdigit() for f in os.listdir(commits))

        def ingest():
            before, committed = parts(), n_commits()
            run_incremental_ingest(self.spark, self.drop, self.out,
                                   self.repos, self.id_map)
            merged = merge_deltas(self.spark, deltas).persist()
            merged.count()
            new = sorted(parts() - before)
            batch = self.spark.read.parquet(*[os.path.join(deltas, f) for f in new])
            rec["micro_batches"] = n_commits() - committed
            return {"merged": merged, "batch": batch}

        # each batch starts from the previous batch's results, so after a
        # failure the rest of the run cannot be checked
        out = self.op("streaming.ingest", ingest, None, rec)
        if out is None:
            self.exhausted = True
            return
        if self.merged is not None:
            self.merged.unpersist()
        self.merged = out["merged"]
        graph = Graph(nodes=self.nodes, edges=self.merged)

        def run_pr():
            res = pagerank_incremental(graph, self.scores)
            return {"res": res, "rows": collect(res.scores, "node_id", "score"),
                    "rec": _pregel_rec(res, int(orc["merged_edges"][b]))}

        def run_wcc():
            res = wcc_incremental(self.comps, out["batch"])
            comps = res.components.localCheckpoint(eager=True)
            return {"comps": comps,
                    "rows": collect(comps, "node_id", "component"),
                    "rec": _pregel_rec(res, int(orc["batch_edges"][b]))}

        ids = np.arange(n)
        pr = self.op("operators.pagerank_incremental", run_pr, lambda o: (
            _mismatch("pagerank ids", o["rows"][0], ids)
            or _mismatch("pagerank", o["rows"][1], orc["pagerank"][b], exact=False)), rec)
        wc = self.op("operators.wcc_incremental", run_wcc, lambda o: (
            _mismatch("wcc ids", o["rows"][0], ids)
            or _mismatch("wcc", o["rows"][1], orc["wcc"][b])), rec)
        if pr is None or wc is None:
            self.exhausted = True
            return
        self.scores, self.comps = pr["res"].scores, wc["comps"]

    def run_probes(self) -> None:
        self.probe_sources()
        pending = os.path.join(self.out, "pending")
        self.probes["streaming.pending_rows"] = (
            self.spark.read.parquet(pending).count()
            if os.path.isdir(pending) else 0)
        if self.merged is not None:
            graph = Graph(nodes=self.nodes, edges=self.merged)
            self.probe("graph.degrees", lambda: graph.degrees("out").count())


WORKLOAD_CLASSES = {"repo-suite": RepoSuite,
                    "incremental-ingest": IncrementalIngest}


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(run: Run, setup_times: list[float]) -> tuple[dict, dict]:
    """The end-to-end metrics of the run and the workload's own times."""
    by = {}
    for op in run.ops:
        by.setdefault(op["span"], []).append(op["wall"])
    pagerank_span = spec.ROLE_SPANS["pagerank"][run.cfg["workload"]]
    # median over supersteps, so that one slow superstep does not move it
    rates = [r for op in run.ops if op["span"] == pagerank_span
             for r in op["rates"]]
    complete = [p for p in run.passes if p["complete"]]
    results = [sum(o["wall"] for o in p["ops"]) for p in complete]
    out = {
        "setup_s": _median(setup_times),
        "time_to_results_s": _median(results),
        "pagerank_s": _median(by.get(pagerank_span, [])),
    }
    extra = {spec.SPAN_TIMES[span]: _median(walls) for span, walls in by.items()}
    if rates:
        extra["superstep_edges_per_s"] = _median(rates)
    if run.cfg["workload"] == "incremental-ingest" and results:
        # a batch is fresh once its scores and components are updated
        extra.update({"freshness_s": _median(results),
                      "freshness_max_s": max(results),
                      "freshness_batches": len(results)})
    return {k: v for k, v in out.items() if v is not None}, extra


def per_layer(run: Run, counters: dict, session_s: float, tracer: Tracer,
              groups: dict) -> dict:
    pregel_ops = [op for op in run.ops if "supersteps" in op]
    blocks = [ms for op in pregel_ops for ms in op["blocks"]]
    complete = [p for p in run.passes if p["complete"]]
    rows = sum(op["rows"] for op in pregel_ops)
    out = {
        "session.start_s": session_s,
        "graph.degrees_s": run.probes.get("graph.degrees_s"),
        "pregel.supersteps": _median([sum(o.get("supersteps", 0) for o in p["ops"])
                                      for p in complete]),
        "pregel.blocks": _median([sum(len(o.get("blocks", [])) for o in p["ops"])
                                  for p in complete]),
        "pregel.block_ms_p50": _median(blocks),
        "pregel.first_block_ms": _median([op["blocks"][0] for op in pregel_ops
                                          if op["blocks"]]),
        "pregel.active_ratio": (sum(op["active"] for op in pregel_ops) / rows
                                if rows else None),
    }
    for name in ("sources.extract_references_s", "sources.assign_dense_ids_s",
                 "sources.refs_rows", "sources.resolve_ratio"):
        out[name] = run.probes.get(name)
    for r, spans in spec.ROLE_SPANS.items():
        # a role the workload does not call reads 0
        c = counters.get(spans.get(run.cfg["workload"]), {})
        for name, _ in spec.SPAN_COUNTERS:
            out[f"{r}.{name}"] = c.get(name, 0)
    for k, v in subtree_totals(tracer, groups, "bench.pass").items():
        out[f"pass.{k}"] = v
    # repo-suite lands no batches: both read 0 there
    out["streaming.micro_batches"] = _median(
        [p["micro_batches"] for p in complete if "micro_batches" in p]) or 0
    out["streaming.pending_rows"] = run.probes.get("streaming.pending_rows", 0)
    un = counters.get("unattributed", {})
    n_pass = max(len(run.passes), 1)
    out["unattributed.jobs"] = un.get("jobs", 0) / n_pass
    out["unattributed.tasks"] = un.get("tasks", 0) / n_pass
    return {k: v for k, v in out.items() if v is not None}


def measure(cfg: dict) -> None:
    result = {"attempted": 0, "failed": 0, "errors": [], "e2e": {},
              "layer": {}, "info": {"load1_at_start": os.getloadavg()[0]}}

    def save():
        tmp = cfg["result"] + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(result, fh)
        os.replace(tmp, cfg["result"])

    events = os.path.join(cfg["work_dir"], "events") if cfg["trace"] else None
    t0 = time.perf_counter()
    spark = session(cfg, f"perfbench-{cfg['workload']}", events)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext if cfg["trace"] else None)
    setup_times: list[float] = []
    try:
        run = WORKLOAD_CLASSES[cfg["workload"]](spark, cfg, tracer)
        with tracer.span("bench.warm_up"):
            t0 = time.perf_counter()
            run.warm_up()
            result["info"]["warm_up_s"] = time.perf_counter() - t0
    except Exception:
        result.update(attempted=1, failed=1, errors=[
            f"before set-up: {traceback.format_exc(limit=3)}"])
        save()
        spark.stop()
        return

    def update():
        result.update(attempted=run.attempted, failed=run.failed,
                      errors=run.errors[:20])
        e2e, extra = end_to_end(run, setup_times)
        result["e2e"] = e2e
        result["info"].update(extra, passes=len(run.passes),
                              session_start_s=session_s,
                              setup_reps_s=setup_times)
        save()

    try:
        with tracer.span("bench.setup"):
            run.setup()  # cold: compiles the set-up's plans, untimed
        for _ in range(spec.SETUP_REPS):
            with tracer.span("bench.setup"):
                t = time.perf_counter()
                run.setup()
                setup_times.append(time.perf_counter() - t)
        update()
        min_passes = spec.WORKLOADS[cfg["workload"]]["min_passes"]
        start = time.perf_counter()
        while not run.exhausted:
            rec = {"ops": []}
            run.passes.append(rec)
            failed_before = run.failed
            with tracer.span("bench.pass"):
                run.run_pass(rec)
            rec["complete"] = run.failed == failed_before
            update()
            if (len(run.passes) >= min_passes
                    and time.perf_counter() - start >= cfg["seconds"]):
                break
        if cfg["trace"]:
            run.run_probes()
            result["info"].update(run.probes)
    except Exception:
        # a failure outside an engine call (set-up, landing a batch) ends
        # the run; what finished is still reported
        run.attempted += 1
        run.failed += 1
        run.errors.append(f"run: {traceback.format_exc(limit=3)}")
    finally:
        update()
        spark.stop()
    if cfg["trace"]:
        groups = read_event_log(event_log_file(events))
        counters = span_counters(tracer, groups)
        result["layer"] = per_layer(run, counters, session_s, tracer, groups)
        result["spans"] = counters
        save()


if __name__ == "__main__":
    config = json.loads(sys.argv[1])
    if config["mode"] == "gen":
        generate(config)
    else:
        measure(config)
