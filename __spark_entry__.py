"""Driver contract: queries() + oracle_sql() for the correctness gate.

Every graph operator runs on the deterministic link graph derived from the
driver's parquet tables (graph_data_science_spark/sources/tpch_graph.py —
customer→supplier via orders⋈lineitem, customer→nation, supplier→nation;
nations are the high-in-degree hubs). Every oracle below is ANSI SQL over
the same tables; for the iterative algorithms (PageRank / ArticleRank /
eigenvector / WCC / label propagation) the oracle is the SAME recurrence
unrolled into chained CTEs — identical float op order per step, so results
agree to well below the 6dp rounding applied on both sides.

Cross-engine portability contract (Spark ⇄ DuckDB):
- md5 hex strings compare/min identically (lexicographic = numeric).
- ``CAST('0x'||hex AS BIGINT)`` (DuckDB) == ``conv(hex,16,10)`` (Spark).
- DuckDB ``regexp_replace(...,'g')`` == Spark ``regexp_replace`` (global).
- every aggregate/computed column is aliased identically on both sides and
  explicitly CAST so schemas match (DuckDB SUM(BIGINT)→HUGEINT etc.).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_data_science_spark.graph import Graph, graph_from_edges
from graph_data_science_spark.operators.degree import degree_centrality
from graph_data_science_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from graph_data_science_spark.operators.label_propagation import label_propagation
from graph_data_science_spark.operators.pagerank import article_rank, pagerank
from graph_data_science_spark.operators.scale_properties import apply_scaler
from graph_data_science_spark.operators.similarity import cosine_topk, node_similarity
from graph_data_science_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    token_count,
    token_count_bpe_ish,
)
from graph_data_science_spark.operators.triangle import (
    local_clustering_coefficient,
    triangle_count,
    triangles,
)
from graph_data_science_spark.operators.wcc import wcc
from graph_data_science_spark.sources.tpch_graph import EDGES_SQL, build_graph

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

#: normalized text + word arrays (documents table) — mirrors dedup._norm
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

def _shingle_cte(n: int, src: str = "documents") -> str:
    """CTE 'sh' = distinct word n-gram shingles per doc (mirrors
    dedup._word_shingles: fallback to the whole normalized text when the
    doc has fewer than n words)."""
    return f"""
w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM {src}),
sh AS (
    SELECT DISTINCT doc_id,
        CASE WHEN len(ws) >= {n}
             THEN array_to_string(ws[i+1:i+{n}], ' ')
             ELSE array_to_string(ws, ' ') END AS shingle
    FROM (SELECT doc_id, ws,
                 unnest(CASE WHEN len(ws) >= {n}
                             THEN range(0, len(ws) - {n} + 1)
                             ELSE [CAST(0 AS BIGINT)] END) AS i
          FROM w)
)
"""


def _pagerank_sql(weighted: bool, iters: int = 19, damping: float = 0.85,
                  tol: float = 1e-7, degree_shift_sql: str | None = None) -> str:
    if weighted:
        deg = "SELECT src AS node_id, SUM(weight) AS degree FROM edges WHERE weight > 0.0 GROUP BY src"
        msg = "s.delta / s.degree * e.weight"
        # engine drops weight<=0 edges from message flow too
        # (operators/pagerank.py:_prep_edges) — keep oracle identical
        esrc = "(SELECT * FROM edges WHERE weight > 0.0) e"
    else:
        deg = "SELECT src AS node_id, CAST(COUNT(*) AS DOUBLE) AS degree FROM edges GROUP BY src"
        msg = "s.delta / s.degree"
        esrc = "edges e"
    shift = f" + ({degree_shift_sql})" if degree_shift_sql else ""
    parts = [f"WITH {EDGES_SQL},",
             f"deg AS MATERIALIZED ({deg}),"]
    if degree_shift_sql:
        parts.append(
            "avgdeg AS MATERIALIZED (SELECT AVG(COALESCE(d.degree, 0.0)) AS ad "
            "FROM nodes n LEFT JOIN deg d ON n.node_id = d.node_id),")
    parts.append(
        "s0 AS MATERIALIZED (SELECT n.node_id, COALESCE(d.degree, 0.0)" + shift + " AS degree, "
        "CAST(1.0 AS DOUBLE) - CAST(" + repr(damping) + " AS DOUBLE) AS rank, "
        "CAST(1.0 AS DOUBLE) - CAST(" + repr(damping) + " AS DOUBLE) AS delta "
        "FROM nodes n LEFT JOIN deg d ON n.node_id = d.node_id"
        + (", avgdeg" if degree_shift_sql else "") + "),")
    for k in range(1, iters + 1):
        p, c = f"s{k-1}", f"s{k}"
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT e.dst AS node_id, SUM({msg}) AS msg "
            f"FROM {esrc} JOIN {p} s ON e.src = s.node_id AND s.delta > {tol!r} "
            f"GROUP BY e.dst),")
        parts.append(
            f"{c} AS MATERIALIZED (SELECT s.node_id, s.degree, "
            f"s.rank + COALESCE({damping!r} * m.msg, 0.0) AS rank, "
            f"COALESCE({damping!r} * m.msg, 0.0) AS delta "
            f"FROM {p} s LEFT JOIN m{k} m ON s.node_id = m.node_id),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, ROUND(rank, 6) AS score FROM s{iters}"


def _wcc_sql(iters: int = 15, threshold: float | None = None) -> str:
    """Unrolled min-label propagation rounds.

    Convergence bound: rounds needed = the graph's undirected diameter. The
    derived link graph is cust→supp→nation with mirrored edges — every
    component has diameter ≤ 4, so 15 rounds carry ~4× margin at ANY SF
    (diameter is set by the 3-layer shape, not row count). Rounds after
    convergence are idempotent (min of already-minimal labels)."""
    w = f" WHERE weight > {threshold!r}" if threshold is not None else ""
    parts = [f"WITH {EDGES_SQL},",
             f"""ue AS MATERIALIZED (SELECT src, dst FROM (
                 SELECT src, dst FROM edges{w}
                 UNION
                 SELECT dst AS src, src AS dst FROM edges{w}) WHERE src <> dst),""",
             "c0 AS MATERIALIZED (SELECT node_id, node_id AS component FROM nodes),"]
    for k in range(1, iters + 1):
        p, c = f"c{k-1}", f"c{k}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT node_id, MIN(component) AS component FROM ("
            f"SELECT node_id, component FROM {p} "
            f"UNION ALL "
            f"SELECT e.dst AS node_id, s.component FROM ue e JOIN {p} s ON e.src = s.node_id"
            f") GROUP BY node_id),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, component FROM c{iters}"


def _lpa_sql(iters: int = 10, weighted: bool = False) -> str:
    wexpr = "e.weight" if weighted else "1.0"
    parts = [f"WITH {EDGES_SQL},",
             "l0 AS MATERIALIZED (SELECT node_id, node_id AS label FROM nodes),"]
    for k in range(1, iters + 1):
        p = f"l{k-1}"
        parts.append(
            f"t{k} AS MATERIALIZED (SELECT e.src AS node_id, l.label AS vote, SUM({wexpr}) AS w "
            f"FROM edges e JOIN {p} l ON e.dst = l.node_id GROUP BY e.src, l.label),")
        parts.append(
            f"b{k} AS MATERIALIZED (SELECT node_id, MAX(w) AS mw FROM t{k} GROUP BY node_id),")
        parts.append(
            f"w{k} AS MATERIALIZED (SELECT t.node_id, MIN(t.vote) AS new_label FROM t{k} t "
            f"JOIN b{k} b ON t.node_id = b.node_id AND t.w = b.mw GROUP BY t.node_id),")
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT l.node_id, COALESCE(wi.new_label, l.label) AS label "
            f"FROM {p} l LEFT JOIN w{k} wi ON l.node_id = wi.node_id),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, label FROM l{iters}"


def _bfs_sql(source: int, iters: int = 6, weighted: bool = False) -> str:
    """Unrolled min-relaxation rounds (BFS hop distance / Bellman-Ford SSSP).

    ``iters`` must be ≥ the longest shortest-path hop count — the derived
    graph is a 2-hop DAG (cust→supp→nation), so 6 has ample margin; rounds
    after convergence are idempotent."""
    relax = "s.dist + e.weight" if weighted else "s.dist + 1.0"
    parts = [f"WITH {EDGES_SQL},",
             f"d0 AS MATERIALIZED (SELECT node_id, CASE WHEN node_id = {source} "
             f"THEN 0.0 ELSE CAST('inf' AS DOUBLE) END AS dist FROM nodes),"]
    for k in range(1, iters + 1):
        p = f"d{k-1}"
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT e.dst AS node_id, MIN({relax}) AS best "
            f"FROM edges e JOIN {p} s ON e.src = s.node_id AND s.dist < CAST('inf' AS DOUBLE) "
            f"GROUP BY e.dst),")
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT d.node_id, "
            f"LEAST(d.dist, COALESCE(r.best, d.dist)) AS dist "
            f"FROM {p} d LEFT JOIN r{k} r ON d.node_id = r.node_id),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, dist AS distance FROM d{iters}"


def _dijkstra_sql(source: int, iters: int = 6, walk: int = 6) -> str:
    """Unrolled (dist, pred) relaxation + predecessor walk — the same
    recurrence as operators/paths.dijkstra. dist/pred values are
    bit-identical across engines by induction (min over identical candidate
    sets; candidates are single adds, no reordered summation), so the float
    equality selecting argmin predecessors is engine-portable. ``iters`` ≥
    longest shortest-path hop count (link graph: 2; margin 3×); ``walk`` ≥
    longest path length; post-convergence rounds idempotent."""
    inf = "CAST('inf' AS DOUBLE)"
    parts = [f"WITH {EDGES_SQL},",
             f"d0 AS MATERIALIZED (SELECT node_id, CASE WHEN node_id = {source} "
             f"THEN 0.0 ELSE {inf} END AS dist, node_id AS pred FROM nodes),"]
    for kk in range(1, iters + 1):
        p = f"d{kk-1}"
        parts.append(
            f"r{kk} AS MATERIALIZED (SELECT e.dst AS node_id, "
            f"MIN(s.dist + e.weight) AS best "
            f"FROM edges e JOIN {p} s ON e.src = s.node_id AND s.dist < {inf} "
            f"GROUP BY e.dst),")
        parts.append(
            f"p{kk} AS MATERIALIZED (SELECT e.dst AS node_id, MIN(e.src) AS pred "
            f"FROM edges e JOIN {p} s ON e.src = s.node_id AND s.dist < {inf} "
            f"JOIN r{kk} r ON e.dst = r.node_id AND s.dist + e.weight = r.best "
            f"GROUP BY e.dst),")
        parts.append(
            f"d{kk} AS MATERIALIZED (SELECT d.node_id, "
            f"CASE WHEN r.best < d.dist THEN r.best ELSE d.dist END AS dist, "
            f"CASE WHEN r.best < d.dist THEN p.pred ELSE d.pred END AS pred "
            f"FROM {p} d LEFT JOIN r{kk} r ON d.node_id = r.node_id "
            f"LEFT JOIN p{kk} p ON d.node_id = p.node_id),")
    dn = f"d{iters}"
    parts.append(
        f"w0 AS MATERIALIZED (SELECT node_id AS target_node, dist AS total_cost, "
        f"node_id AS cur, CAST(node_id AS VARCHAR) AS path FROM {dn} "
        f"WHERE dist < {inf}),")
    for j in range(1, walk + 1):
        parts.append(
            f"w{j} AS MATERIALIZED (SELECT w.target_node, w.total_cost, "
            f"CASE WHEN w.cur = {source} THEN w.cur ELSE d.pred END AS cur, "
            f"CASE WHEN w.cur = {source} THEN w.path "
            f"ELSE CAST(d.pred AS VARCHAR) || '->' || w.path END AS path "
            f"FROM w{j-1} w JOIN {dn} d ON w.cur = d.node_id),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + (
        f"SELECT CAST({source} AS BIGINT) AS source_node, target_node, "
        f"ROUND(total_cost, 6) AS total_cost, path FROM w{walk}")


def _astar_sql(source: int, iters: int = 6, walk: int = 6) -> str:
    """A* oracle = the dijkstra unroll restricted to the deterministic
    target (smallest reachable nation node). Valid because A* with an
    admissible heuristic returns exactly the dijkstra path — the heuristic
    changes exploration volume, not the result (paths/astar/AStar.java
    wraps Dijkstra.sourceTarget)."""
    base = _dijkstra_sql(source, iters, walk)
    head, _, tail = base.rpartition("SELECT ")
    return head + (
        f"SELECT source_node, target_node, total_cost, path FROM (\n{'SELECT ' + tail}\n) "
        f"WHERE target_node = (SELECT MIN(target_node) FROM w{walk} "
        f"WHERE target_node >= 2000000)")


def _dag_longest_path_sql(iters: int = 6) -> str:
    """Unrolled max-relaxation with argmax predecessor (ties → smaller pred),
    mirroring operators/paths.dag_longest_path. Float equality selecting the
    argmax is engine-portable: candidates are single adds over identical
    inputs (same discipline as _dijkstra_sql)."""
    parts = [f"WITH {EDGES_SQL},",
             "d0 AS MATERIALIZED (SELECT node_id, 0.0 AS dist, "
             "node_id AS pred FROM nodes),"]
    for k in range(1, iters + 1):
        p = f"d{k-1}"
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT e.dst AS node_id, "
            f"MAX(s.dist + e.weight) AS best "
            f"FROM edges e JOIN {p} s ON e.src = s.node_id GROUP BY e.dst),")
        parts.append(
            f"p{k} AS MATERIALIZED (SELECT e.dst AS node_id, MIN(e.src) AS pred "
            f"FROM edges e JOIN {p} s ON e.src = s.node_id "
            f"JOIN r{k} r ON e.dst = r.node_id AND s.dist + e.weight = r.best "
            f"GROUP BY e.dst),")
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT d.node_id, "
            f"CASE WHEN r.best > d.dist THEN r.best ELSE d.dist END AS dist, "
            f"CASE WHEN r.best > d.dist THEN p.pred ELSE d.pred END AS pred "
            f"FROM {p} d LEFT JOIN r{k} r ON d.node_id = r.node_id "
            f"LEFT JOIN p{k} p ON d.node_id = p.node_id),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + (f"SELECT node_id, ROUND(dist, 6) AS dist, pred FROM d{iters}")


def _dag_levels_sql(iters: int = 6) -> str:
    parts = [f"WITH {EDGES_SQL},",
             "v0 AS MATERIALIZED (SELECT node_id, CAST(0 AS BIGINT) AS level FROM nodes),"]
    for k in range(1, iters + 1):
        p = f"v{k-1}"
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT e.dst AS node_id, MAX(s.level + 1) AS best "
            f"FROM edges e JOIN {p} s ON e.src = s.node_id GROUP BY e.dst),")
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT v.node_id, "
            f"CAST(GREATEST(v.level, COALESCE(r.best, v.level)) AS BIGINT) AS level "
            f"FROM {p} v LEFT JOIN r{k} r ON v.node_id = r.node_id),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, level FROM v{iters}"


#: the bellman_ford_negative fixture (operators/paths.bellman_ford): ring
#: 0→1→…→24→0 (w=1) + back-chords k→k−3 (w=−2) at k ∈ {5,10,15,20} —
#: negative edges, no negative cycle (each 4-loop totals +1)
_BF_RING_SQL = """bfe AS MATERIALIZED (
SELECT CAST(n_nationkey AS BIGINT) AS src,
       CAST((n_nationkey + 1) % 25 AS BIGINT) AS dst,
       CAST(1.0 AS DOUBLE) AS weight FROM nation
UNION ALL
SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey - 3 AS BIGINT),
       CAST(-2.0 AS DOUBLE)
FROM nation WHERE n_nationkey % 5 = 0 AND n_nationkey > 0)"""


def _bellman_ford_negative_sql(rounds: int = 26) -> str:
    """Unrolled Bellman-Ford relaxation from source 0 over the ring
    fixture — schedule-free (full relax each round reaches the same
    fixpoint as the engine's frontier schedule); error() unless the last
    round changed nothing (the leiden-style fixpoint ASSERT, not an
    assumed-depth unroll)."""
    parts = ["WITH " + _BF_RING_SQL + ",",
             "d0 AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS "
             "node_id, CASE WHEN n_nationkey = 0 THEN 0.0 ELSE 1e18 END "
             "AS dist FROM nation),"]
    for r in range(1, rounds + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT n.node_id, "
            f"LEAST(n.dist, COALESCE(m.c, n.dist)) AS dist "
            f"FROM d{r - 1} n LEFT JOIN ("
            f"SELECT e.dst AS node_id, MIN(p.dist + e.weight) AS c "
            f"FROM bfe e JOIN d{r - 1} p ON e.src = p.node_id "
            f"WHERE p.dist < 1e17 GROUP BY e.dst) m "
            f"ON n.node_id = m.node_id),")
    parts.append(
        f"fx AS MATERIALIZED (SELECT COUNT(*) AS nn FROM d{rounds} a "
        f"JOIN d{rounds - 1} b ON a.node_id = b.node_id "
        f"AND a.dist <> b.dist)")
    parts.append(
        f"SELECT a.node_id, CASE WHEN f.nn = 0 THEN ROUND(a.dist, 6) "
        f"ELSE error('bellman-ford unroll not converged') END AS distance "
        f"FROM d{rounds} a, fx f")
    return "\n".join(parts)


#: bellman_ford_cycles: INDEPENDENT oracle — enumerate all simple
#: negative cycles of the branch fixture by bounded recursive search
#: (not a mirror of the engine's pred-graph recovery; the fixture's four
#: 3-cycles are disjoint, so both computations provably yield the same
#: set: pred-recovery finds ≥1 cycle per disjoint trapped region and
#: every pred-graph cycle is a negative cycle)
_BELLMAN_FORD_CYCLES_SQL = """WITH RECURSIVE bfe AS MATERIALIZED (
SELECT CAST(0 AS BIGINT) AS src, CAST(n_nationkey AS BIGINT) AS dst,
       CAST(1.0 AS DOUBLE) AS weight
FROM nation WHERE n_nationkey % 5 = 0 AND n_nationkey > 0
UNION ALL
SELECT CAST(n_nationkey AS BIGINT), CAST(n_nationkey + 1 AS BIGINT),
       CAST(1.0 AS DOUBLE)
FROM nation WHERE n_nationkey % 5 = 0 AND n_nationkey > 0
UNION ALL
SELECT CAST(n_nationkey + 1 AS BIGINT), CAST(n_nationkey + 2 AS BIGINT),
       CAST(1.0 AS DOUBLE)
FROM nation WHERE n_nationkey % 5 = 0 AND n_nationkey > 0
UNION ALL
SELECT CAST(n_nationkey + 2 AS BIGINT), CAST(n_nationkey AS BIGINT),
       CAST(-3.0 AS DOUBLE)
FROM nation WHERE n_nationkey % 5 = 0 AND n_nationkey > 0),
walk(start, cur, total, path) AS (
  SELECT src, dst, weight, [src, dst] FROM bfe
  UNION ALL
  SELECT w.start, e.dst, w.total + e.weight, list_append(w.path, e.dst)
  FROM walk w JOIN bfe e ON w.cur = e.src
  WHERE w.cur <> w.start
    AND (e.dst = w.start OR NOT list_contains(w.path, e.dst))
),
neg AS (SELECT path FROM walk WHERE cur = start AND total < 0),
mem AS (SELECT CAST(list_min(path) AS BIGINT) AS cycle_id,
               CAST(UNNEST(path) AS BIGINT) AS node_id FROM neg)
SELECT DISTINCT cycle_id, node_id FROM mem"""


def _kcore_sql(k: int, rounds: int = 10) -> str:
    """Unrolled cascade peel for fixed-k core membership.

    Convergence bound: rounds needed = the peel cascade depth, which on the
    3-layer link graph is small (a customer/supplier drop can cascade to its
    nation and back at most a few times; measured depth ≤ 4 at sf0.01/0.1).
    Rounds after the cascade settles are idempotent (no node below k ⇒ the
    HAVING keeps everyone). If a future SF ever exceeded the unroll, the
    oracle — not the engine — would be the diverging side; bump ``rounds``."""
    parts = [f"WITH {EDGES_SQL},",
             """ue AS MATERIALIZED (SELECT src, dst FROM (
                 SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
                 FROM edges WHERE src <> dst) GROUP BY src, dst),""",
             "u2 AS MATERIALIZED (SELECT src, dst FROM ue UNION ALL SELECT dst, src FROM ue),",
             "a0 AS MATERIALIZED (SELECT DISTINCT src AS node_id FROM u2),"]
    for r in range(1, rounds + 1):
        p = f"a{r-1}"
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT u.src, u.dst FROM u2 u "
            f"JOIN {p} x ON u.src = x.node_id JOIN {p} y ON u.dst = y.node_id),")
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT src AS node_id FROM g{r} "
            f"GROUP BY src HAVING COUNT(*) >= {k}),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + (
        f"SELECT n.node_id, (a.node_id IS NOT NULL) AS in_core "
        f"FROM nodes n LEFT JOIN a{rounds} a ON n.node_id = a.node_id")


def _msbfs_cte(rounds: int = 4) -> str:
    """CTE chain ending in ``cum`` = (s, v, dist, sigma) for every reachable
    pair, all nodes as sources — the MSBFS unroll shared by the betweenness/
    closeness/harmonic/allShortestPaths oracles. ``rounds`` ≥ graph diameter
    (link graph: 2; margin 2×); extra rounds add nothing (anti-join)."""
    parts = ["ms0 AS MATERIALIZED (SELECT node_id AS s, node_id AS v, "
             "CAST(0 AS BIGINT) AS dist, 1.0 AS sigma FROM nodes),",
             "cum0 AS MATERIALIZED (SELECT * FROM ms0),"]
    for r in range(1, rounds + 1):
        parts.append(
            f"cd{r} AS MATERIALIZED (SELECT p.s, e.dst AS v, SUM(p.sigma) AS sigma "
            f"FROM ms{r-1} p JOIN edges e ON e.src = p.v GROUP BY p.s, e.dst),")
        parts.append(
            f"ms{r} AS MATERIALIZED (SELECT c.s, c.v, CAST({r} AS BIGINT) AS dist, "
            f"c.sigma FROM cd{r} c LEFT JOIN cum{r-1} x ON c.s = x.s AND c.v = x.v "
            f"WHERE x.v IS NULL),")
        parts.append(
            f"cum{r} AS MATERIALIZED (SELECT * FROM cum{r-1} "
            f"UNION ALL SELECT * FROM ms{r}),")
    parts.append(f"cum AS MATERIALIZED (SELECT * FROM cum{rounds})")
    return "\n".join(parts)


def _betweenness_sql(rounds: int = 4) -> str:
    """Brandes forward (MSBFS unroll) + backward dependency accumulation per
    level, deepest first — mirrors operators/centrality.betweenness. Levels
    above the true max depth are empty tables; the unroll is safe."""
    parts = [f"WITH {EDGES_SQL},", _msbfs_cte(rounds) + ","]
    parts.append(
        f"dl{rounds} AS MATERIALIZED (SELECT s, v, 0.0 AS delta FROM cum "
        f"WHERE dist = {rounds}),")
    for d in range(rounds - 1, -1, -1):
        parts.append(
            f"dl{d} AS MATERIALIZED (SELECT p.s, p.v, "
            f"SUM(p.sigma / q.sigma * (1.0 + COALESCE(qd.delta, 0.0))) AS delta "
            f"FROM cum p JOIN edges e ON e.src = p.v "
            f"JOIN cum q ON q.s = p.s AND q.v = e.dst AND q.dist = {d + 1} "
            f"LEFT JOIN dl{d + 1} qd ON qd.s = q.s AND qd.v = q.v "
            f"WHERE p.dist = {d} GROUP BY p.s, p.v),")
    unions = " UNION ALL ".join(
        f"SELECT v, delta FROM dl{d} WHERE s <> v" for d in range(rounds))
    parts.append(f"bca AS MATERIALIZED ({unions})")
    body = "\n".join(parts) + "\n"
    return body + (
        "SELECT n.node_id, ROUND(COALESCE(b.sc, 0.0), 6) AS score "
        "FROM nodes n LEFT JOIN (SELECT v, SUM(delta) AS sc FROM bca GROUP BY v) b "
        "ON n.node_id = b.v")


def _closeness_sql(rounds: int = 4, wasserman_faust: bool = False) -> str:
    wf = " * (p.r1 / (SELECT CAST(COUNT(*) - 1 AS DOUBLE) FROM nodes))" \
        if wasserman_faust else ""
    return (f"WITH {EDGES_SQL},\n" + _msbfs_cte(rounds) + ",\n"
            "per AS MATERIALIZED (SELECT s, CAST(COUNT(*) - 1 AS DOUBLE) AS r1, "
            "CAST(SUM(dist) AS DOUBLE) AS sumd FROM cum GROUP BY s)\n"
            "SELECT n.node_id, ROUND(COALESCE(CASE WHEN p.sumd > 0 "
            f"THEN p.r1 / p.sumd{wf} ELSE 0.0 END, 0.0), 6) AS score "
            "FROM nodes n LEFT JOIN per p ON n.node_id = p.s")


def _harmonic_sql(rounds: int = 4) -> str:
    return (f"WITH {EDGES_SQL},\n" + _msbfs_cte(rounds) + ",\n"
            "per AS MATERIALIZED (SELECT s, SUM(1.0 / dist) AS h FROM cum "
            "WHERE dist > 0 GROUP BY s),\n"
            "nn AS MATERIALIZED (SELECT CAST(COUNT(*) - 1 AS DOUBLE) AS d FROM nodes)\n"
            "SELECT n.node_id, ROUND(COALESCE(p.h / nn.d, 0.0), 6) AS score "
            "FROM nodes n LEFT JOIN per p ON n.node_id = p.s, nn")


def _all_shortest_paths_sql(rounds: int = 4) -> str:
    return (f"WITH {EDGES_SQL},\n" + _msbfs_cte(rounds) + "\n"
            "SELECT s AS source_node, v AS target_node, "
            "CAST(dist AS DOUBLE) AS distance FROM cum")


def _u01_sql(*args: str) -> str:
    """DuckDB u01 matching embeddings._u01: md5 of ':'-joined args, top 60
    bits / 2^60. Args are SQL expressions."""
    joined = " || ':' || ".join(f"CAST({a} AS VARCHAR)" for a in args)
    return (f"(CAST('0x' || substr(md5({joined}), 1, 15) AS BIGINT) "
            f"/ 1152921504606846976.0)")


def _fastrp_sql(dim: int = 8, seed: int = 42, n_iters: int = 3,
                weights=(0.0, 1.0, 1.0)) -> str:
    """Unrolled FastRP (operators/embeddings.fastrp recurrence): hash-seeded
    very-sparse projection, ``n_iters`` neighbor-average + L2-normalize
    rounds, weighted sum of iterations (default weights have exactly two
    nonzero terms — a 2-addend sum is order-independent in IEEE, keeping the
    final ROUND(·,6) engine-portable)."""
    u = _u01_sql("n.node_id", "d.dim", str(seed))
    parts = [f"WITH {EDGES_SQL},",
             "ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
             "SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),",
             f"dims AS MATERIALIZED (SELECT unnest(range(0, {dim})) AS dim),",
             f"""e0 AS MATERIALIZED (
    SELECT node_id, dim,
           CASE WHEN u < 1.0/6.0 THEN sqrt(3.0)
                WHEN u < 2.0/6.0 THEN -sqrt(3.0)
                ELSE 0.0 END AS value
    FROM (SELECT n.node_id, d.dim, {u} AS u FROM nodes n, dims d)),"""]
    for i in range(1, n_iters + 1):
        p = f"e{i-1}"
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT e.dst AS node_id, s.dim, "
            f"AVG(s.value) AS value FROM ue e JOIN {p} s ON e.src = s.node_id "
            f"GROUP BY e.dst, s.dim),")
        parts.append(
            f"f{i} AS MATERIALIZED (SELECT nd.node_id, nd.dim, "
            f"COALESCE(m.value, 0.0) AS value FROM "
            f"(SELECT n.node_id, d.dim FROM nodes n, dims d) nd "
            f"LEFT JOIN m{i} m ON m.node_id = nd.node_id AND m.dim = nd.dim),")
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT node_id, SQRT(SUM(value * value)) AS nv "
            f"FROM f{i} GROUP BY node_id),")
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT f.node_id, f.dim, "
            f"CASE WHEN n.nv > 0 THEN f.value / n.nv ELSE 0.0 END AS value "
            f"FROM f{i} f JOIN n{i} n ON f.node_id = n.node_id),")
    terms = [(i + 1, w) for i, w in enumerate(weights) if w]
    sel = " + ".join(f"t{i}.value * {w!r}" for i, w in terms)
    frm = f"e{terms[0][0]} t{terms[0][0]}"
    for i, _ in terms[1:]:
        frm += (f" JOIN e{i} t{i} ON t{i}.node_id = t{terms[0][0]}.node_id "
                f"AND t{i}.dim = t{terms[0][0]}.dim")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + (
        f"SELECT t{terms[0][0]}.node_id, t{terms[0][0]}.dim, "
        f"ROUND({sel}, 6) AS value FROM {frm}")


def _graphsage_sql(layer_dims=(3, 4, 4), sample_sizes=(3, 2),
                   seed: int = 42) -> str:
    """Unrolled GraphSAGE forward pass (operators/graphsage.graphsage_predict):
    log1p-degree features, per-layer hash-rank neighbor sampling (same
    ``u01(src, dst, layer, seed)`` ordering on both engines), mean
    aggregation, inlined literal weights from
    :func:`graphsage.init_weights` (hash-seeded in Python, so neither
    engine hashes weights), relu + L2 normalize per layer, ROUND 6dp at the
    end only (the cross-engine float contract)."""
    from graph_data_science_spark.operators.graphsage import init_weights

    weights = init_weights(list(layer_dims), seed=seed)
    parts = [f"WITH {EDGES_SQL},",
             "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),",
             "od AS (SELECT src AS node_id, COUNT(*) AS o FROM de GROUP BY src),",
             "idg AS (SELECT dst AS node_id, COUNT(*) AS i FROM de GROUP BY dst),",
             f"""f0 AS MATERIALIZED (
    SELECT n.node_id, d.dim,
           CASE d.dim WHEN 0 THEN ln(1.0 + COALESCE(od.o, 0))
                      WHEN 1 THEN ln(1.0 + COALESCE(idg.i, 0))
                      ELSE 1.0 END AS value
    FROM nodes n
    LEFT JOIN od ON n.node_id = od.node_id
    LEFT JOIN idg ON n.node_id = idg.node_id,
    (SELECT unnest(range(0, {layer_dims[0]})) AS dim) d),"""]
    for k, layer in enumerate(weights):
        s = sample_sizes[k]
        u = _u01_sql("src", "dst", str(k), str(seed))
        parts.append(
            f"sm{k} AS MATERIALIZED (SELECT src, dst FROM ("
            f"SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY dst "
            f"ORDER BY {u}, src) AS r FROM de) WHERE r <= {int(s)}),")
        parts.append(
            f"nm{k} AS MATERIALIZED (SELECT e.dst AS node_id, f.dim, "
            f"AVG(f.value) AS nval FROM sm{k} e "
            f"JOIN f{k} f ON e.src = f.node_id GROUP BY e.dst, f.dim),")
        wrows = ", ".join(
            f"({j}, {i}, {layer['w_self'][j][i]!r}, {layer['w_neigh'][j][i]!r})"
            for j in range(len(layer["w_self"]))
            for i in range(len(layer["w_self"][0])))
        parts.append(f"w{k}(j, i, ws, wn) AS (VALUES {wrows}),")
        parts.append(
            f"pre{k} AS MATERIALIZED (SELECT f.node_id, w.j AS dim, "
            f"GREATEST(SUM(f.value * w.ws + COALESCE(nm.nval, 0.0) * w.wn), 0.0) "
            f"AS value FROM f{k} f "
            f"LEFT JOIN nm{k} nm ON nm.node_id = f.node_id AND nm.dim = f.dim "
            f"JOIN w{k} w ON w.i = f.dim GROUP BY f.node_id, w.j),")
        parts.append(
            f"nr{k} AS MATERIALIZED (SELECT node_id, SQRT(SUM(value * value)) "
            f"AS nv FROM pre{k} GROUP BY node_id),")
        parts.append(
            f"f{k + 1} AS MATERIALIZED (SELECT p.node_id, p.dim, "
            f"CASE WHEN n.nv > 0 THEN p.value / n.nv ELSE 0.0 END AS value "
            f"FROM pre{k} p JOIN nr{k} n ON p.node_id = n.node_id),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + (f"SELECT node_id, dim, ROUND(value, 6) AS value "
                   f"FROM f{len(weights)}")


def _random_walks_sql(walk_length: int = 4, walks_per_node: int = 2,
                      seed: int = 42) -> str:
    """Unrolled seeded uniform walks (operators/embeddings.random_walks):
    next hop = floor(u01(walk_id, step, seed) · deg)-th neighbor in dst
    order. dist/pick arithmetic is identical double ops on both engines."""
    parts = [f"WITH {EDGES_SQL},",
             "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),",
             "nb AS MATERIALIZED (SELECT src, dst, ROW_NUMBER() OVER "
             "(PARTITION BY src ORDER BY dst) - 1 AS idx FROM de),",
             "dg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM de GROUP BY src),",
             f"w0 AS MATERIALIZED (SELECT n.node_id * {walks_per_node} + r._r AS walk_id, "
             f"CAST(0 AS BIGINT) AS step, n.node_id FROM nodes n, "
             f"(SELECT unnest(range(0, {walks_per_node})) AS _r) r),"]
    for s in range(1, walk_length):
        u = _u01_sql("c.walk_id", str(s), str(seed))
        parts.append(
            f"w{s} AS MATERIALIZED (SELECT c.walk_id, CAST({s} AS BIGINT) AS step, "
            f"nb.dst AS node_id FROM w{s-1} c "
            f"JOIN dg ON c.node_id = dg.src "
            f"JOIN nb ON nb.src = c.node_id "
            f"AND nb.idx = CAST(FLOOR({u} * dg.deg) AS BIGINT)),")
    unions = " UNION ALL ".join(f"SELECT * FROM w{s}" for s in range(walk_length))
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT walk_id, step, node_id FROM ({unions})"


def _random_walks_biased_sql(walk_length: int = 4, walks_per_node: int = 1,
                             p: float = 2.0, q: float = 0.5,
                             seed: int = 42) -> str:
    """Unrolled second-order node2vec walks (operators/embeddings.
    random_walks with p/q ≠ 1): step 1 is the uniform pick; later steps
    weight candidate x from t→v→x by 1/p (x = t), 1 (edge t→x), 1/q
    (else) and take the first candidate in dst order whose ORDER-DEFINED
    running weight sum exceeds u01 · total — the same sequential window sum
    on both engines."""
    parts = [f"WITH {EDGES_SQL},",
             "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),",
             "nb AS MATERIALIZED (SELECT src, dst, ROW_NUMBER() OVER "
             "(PARTITION BY src ORDER BY dst) - 1 AS idx FROM de),",
             "dg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM de GROUP BY src),",
             f"w0 AS MATERIALIZED (SELECT n.node_id * {walks_per_node} + r._r AS walk_id, "
             f"CAST(NULL AS BIGINT) AS prev, n.node_id FROM nodes n, "
             f"(SELECT unnest(range(0, {walks_per_node})) AS _r) r),"]
    u1 = _u01_sql("c.walk_id", "1", str(seed))
    parts.append(
        f"w1 AS MATERIALIZED (SELECT c.walk_id, c.node_id AS prev, "
        f"nb.dst AS node_id FROM w0 c "
        f"JOIN dg ON c.node_id = dg.src "
        f"JOIN nb ON nb.src = c.node_id "
        f"AND nb.idx = CAST(FLOOR({u1} * dg.deg) AS BIGINT)),")
    for s in range(2, walk_length):
        u = _u01_sql("walk_id", str(s), str(seed))
        parts.append(
            f"c{s} AS MATERIALIZED (SELECT c.walk_id, c.prev, "
            f"c.node_id AS cur, nb.dst AS cand, "
            f"CASE WHEN nb.dst = c.prev THEN {1.0 / p!r} "
            f"WHEN m.src IS NOT NULL THEN 1.0 ELSE {1.0 / q!r} END AS w "
            f"FROM w{s-1} c JOIN de nb ON nb.src = c.node_id "
            f"LEFT JOIN de m ON m.src = c.prev AND m.dst = nb.dst),")
        parts.append(
            f"w{s} AS MATERIALIZED (SELECT walk_id, cur AS prev, "
            f"cand AS node_id FROM ("
            f"SELECT walk_id, cur, cand, w, "
            f"SUM(w) OVER (PARTITION BY walk_id ORDER BY cand "
            f"ROWS UNBOUNDED PRECEDING) AS cum, "
            f"{u} * SUM(w) OVER (PARTITION BY walk_id) AS thr "
            f"FROM c{s}) WHERE cum > thr AND cum - w <= thr),")
    unions = " UNION ALL ".join(
        f"SELECT walk_id, CAST({s} AS BIGINT) AS step, node_id FROM w{s}"
        for s in range(walk_length))
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT walk_id, step, node_id FROM ({unions})"


def _kmeans_sql(k: int = 4, iters: int = 5, seed: int = 42) -> str:
    """Unrolled deterministic Lloyd (operators/clustering.kmeans): seeds =
    the k vectors with smallest u01(id, 'kmseed', seed) — the hash-sample
    init (sorted-data-robust, reference-RNG stand-in); distances and
    centroid means ROUND(·,6) every iteration (the cross-engine float
    contract); argmin ties → smaller cluster id."""
    useed = _u01_sql("id", "'kmseed'", str(int(seed)))
    parts = ["""WITH p AS MATERIALIZED (
    SELECT vec_id AS id, CAST(t.i - 1 AS BIGINT) AS dim,
           CAST(embedding[t.i] AS DOUBLE) AS val
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),""",
             f"""seeds AS MATERIALIZED (
    SELECT id, ROW_NUMBER() OVER (ORDER BY {useed}, id) - 1 AS cluster
    FROM (SELECT DISTINCT vec_id AS id FROM embeddings
          ORDER BY {useed}, id LIMIT {k})),""",
             "c0 AS MATERIALIZED (SELECT s.cluster, p.dim, ROUND(p.val, 6) AS cval "
             "FROM p JOIN seeds s ON p.id = s.id),"]
    for t in range(1, iters + 1):
        parts.append(
            f"ds{t} AS MATERIALIZED (SELECT p.id, c.cluster, "
            f"ROUND(SUM((p.val - c.cval) * (p.val - c.cval)), 6) AS d "
            f"FROM p JOIN c{t-1} c ON p.dim = c.dim GROUP BY p.id, c.cluster),")
        parts.append(
            f"am{t} AS MATERIALIZED (SELECT id, MIN(d) AS dmin FROM ds{t} GROUP BY id),")
        parts.append(
            f"asg{t} AS MATERIALIZED (SELECT d.id, MIN(d.cluster) AS cluster "
            f"FROM ds{t} d JOIN am{t} a ON d.id = a.id AND d.d = a.dmin GROUP BY d.id),")
        parts.append(
            f"c{t} AS MATERIALIZED (SELECT a.cluster, p.dim, ROUND(AVG(p.val), 6) "
            f"AS cval FROM p JOIN asg{t} a ON p.id = a.id GROUP BY a.cluster, p.dim),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT id AS vec_id, CAST(cluster AS BIGINT) AS cluster FROM asg{iters}"


def _pq_prefix_sql(m: int = 2, k: int = 4, iters: int = 2, ds: int = 32,
                   seed: int = 42) -> str:
    """Shared CTE prefix for the product-quantization oracles
    (operators/pq.py): per-subspace deterministic Lloyd (the kmeans unroll
    generalized with a ``sub`` key), then a fresh ``enc`` assignment of
    every vector against the FINAL centroids (pq_encode semantics).
    ``ds`` = dims per subspace (embeddings table is 64-dim)."""
    useed = _u01_sql("id", "'pqseed'", str(int(seed)))
    parts = [f"""WITH sp AS MATERIALIZED (
    SELECT vec_id AS id, CAST((t.i - 1) // {ds} AS BIGINT) AS sub,
           CAST((t.i - 1) % {ds} AS BIGINT) AS sdim,
           CAST(embedding[t.i] AS DOUBLE) AS val
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),""",
             f"""seeds AS MATERIALIZED (
    SELECT id, ROW_NUMBER() OVER (ORDER BY {useed}, id) - 1 AS cluster
    FROM (SELECT DISTINCT vec_id AS id FROM embeddings
          ORDER BY {useed}, id LIMIT {k})),""",
             "c0 AS MATERIALIZED (SELECT sp.sub, s.cluster, sp.sdim, "
             "ROUND(sp.val, 6) AS cval FROM sp JOIN seeds s ON sp.id = s.id),"]
    steps = []
    for t in range(1, iters + 1):
        steps.append((f"ds{t}", f"c{t-1}", f"am{t}", f"asg{t}"))
    # one extra assignment against the final centroids = pq_encode
    steps.append(("dse", f"c{iters}", "ame", "enc"))
    for i, (dname, cprev, aname, gname) in enumerate(steps):
        parts.append(
            f"{dname} AS MATERIALIZED (SELECT sp.id, sp.sub, c.cluster, "
            f"ROUND(SUM((sp.val - c.cval) * (sp.val - c.cval)), 6) AS d "
            f"FROM sp JOIN {cprev} c ON sp.sub = c.sub AND sp.sdim = c.sdim "
            f"GROUP BY sp.id, sp.sub, c.cluster),")
        parts.append(
            f"{aname} AS MATERIALIZED (SELECT id, sub, MIN(d) AS dmin "
            f"FROM {dname} GROUP BY id, sub),")
        parts.append(
            f"{gname} AS MATERIALIZED (SELECT d.id, d.sub, "
            f"MIN(d.cluster) AS cluster FROM {dname} d JOIN {aname} a "
            f"ON d.id = a.id AND d.sub = a.sub AND d.d = a.dmin "
            f"GROUP BY d.id, d.sub),")
        if i < len(steps) - 1:
            t = i + 1
            parts.append(
                f"c{t} AS MATERIALIZED (SELECT a.sub, a.cluster, sp.sdim, "
                f"ROUND(AVG(sp.val), 6) AS cval FROM sp "
                f"JOIN asg{t} a ON sp.id = a.id AND sp.sub = a.sub "
                f"GROUP BY a.sub, a.cluster, sp.sdim),")
    return "\n".join(parts)


def _pq_codes_sql(m: int = 2, **kw) -> str:
    cases = ", ".join(
        f"CAST(MAX(CASE WHEN sub = {j} THEN cluster END) AS BIGINT) "
        f"AS code_{j}" for j in range(m))
    return (_pq_prefix_sql(m=m, **kw).rstrip(",") + "\n"
            + f"SELECT id AS vec_id, {cases} FROM enc GROUP BY id")


def _pq_topk_sql(m: int = 2, iters: int = 2, n_queries: int = 3,
                 topk: int = 5, **kw) -> str:
    return (_pq_prefix_sql(m=m, iters=iters, **kw) + f"""
qs AS MATERIALIZED (SELECT id, sub, sdim, val FROM sp WHERE id < {n_queries}),
tbl AS MATERIALIZED (SELECT q.id AS query_id, c.sub, c.cluster,
    ROUND(SUM((q.val - c.cval) * (q.val - c.cval)), 6) AS td
    FROM qs q JOIN c{iters} c ON q.sub = c.sub AND q.sdim = c.sdim
    GROUP BY q.id, c.sub, c.cluster),
ad AS MATERIALIZED (SELECT t.query_id, e.id AS vec_id,
    ROUND(SUM(t.td), 6) AS adist
    FROM enc e JOIN tbl t ON e.sub = t.sub AND e.cluster = t.cluster
    GROUP BY t.query_id, e.id),
rk AS (SELECT query_id, vec_id, adist, ROW_NUMBER() OVER (
       PARTITION BY query_id ORDER BY adist, vec_id) AS rn FROM ad)
SELECT query_id, vec_id, adist FROM rk WHERE rn <= {topk}""")


def _hll_prefix_sql(p: int = 9, seed: int = 42,
                    value: str = "text", group: str = "lang") -> str:
    """HLL register CTE over documents (operators/sketches.py): the
    md5-top-60-bit hash, reg = top p bits, rho = leading-zero rank."""
    wbits = 60 - p
    return f"""WITH h AS MATERIALIZED (
    SELECT {group} AS grp,
           CAST('0x' || substr(md5(CAST({value} AS VARCHAR) || ':' ||
                '{int(seed)}'), 1, 15) AS BIGINT) AS h
    FROM documents),
regs AS MATERIALIZED (
    SELECT grp, h >> {wbits} AS reg,
           MAX(CASE WHEN h % {1 << wbits} = 0 THEN {wbits + 1}
               ELSE {wbits} - length(bin(h % {1 << wbits})) + 1 END) AS rho
    FROM h GROUP BY grp, h >> {wbits})"""


def _hll_registers_sql(p: int = 9, seed: int = 42) -> str:
    return (_hll_prefix_sql(p, seed) + """
SELECT grp AS "group", CAST(reg AS BIGINT) AS reg, CAST(rho AS BIGINT) AS rho
FROM regs""")


def _hll_distinct_sql(p: int = 9, seed: int = 42) -> str:
    m = 1 << p
    a = 0.7213 / (1.0 + 1.079 / m) if m >= 128 else \
        {16: 0.673, 32: 0.697, 64: 0.709}[m]
    scale = float(1 << 53)
    num = a * m * m * scale  # same Python float product as the engine lit
    return (_hll_prefix_sql(p, seed) + f""",
agg AS MATERIALIZED (
    SELECT grp, SUM(CAST(POW(2.0, 53 - rho) AS BIGINT)) AS s,
           COUNT(*) AS nz
    FROM regs GROUP BY grp),
est AS (
    SELECT grp,
           {num!r} / (CAST(s AS DOUBLE)
                      + CAST({m} - nz AS DOUBLE) * {scale!r}) AS raw,
           {m} - nz AS v
    FROM agg)
SELECT grp AS "group",
       ROUND(CASE WHEN raw <= {2.5 * m!r} AND v > 0
             THEN {float(m)!r} * LN({float(m)!r} / CAST(v AS DOUBLE))
             ELSE raw END, 4) AS approx_distinct
FROM est""")


def _nchars_quantiles_sql(qs=(0.5, 0.9, 0.99)) -> str:
    """Log2-histogram quantiles over documents.n_chars
    (operators/sketches.log_histogram + histogram_quantiles)."""
    qvals = ", ".join(f"({float(q)!r})" for q in qs)
    return f"""WITH hist AS MATERIALIZED (
    SELECT lang AS grp,
           CASE WHEN n_chars <= 0 THEN 0
                ELSE length(bin(CAST(n_chars AS BIGINT))) END AS bin,
           COUNT(*) AS cnt
    FROM documents GROUP BY 1, 2),
cum AS MATERIALIZED (
    SELECT grp, bin, cnt,
           SUM(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
           SUM(cnt) OVER (PARTITION BY grp) AS tot
    FROM hist),
qs(q) AS (VALUES {qvals}),
j AS (SELECT c.*, q.q,
      ROW_NUMBER() OVER (PARTITION BY c.grp, q.q ORDER BY c.bin) AS rn
      FROM cum c JOIN qs q ON c.cum >= q.q * c.tot)
SELECT grp AS "group", q,
       ROUND(CASE WHEN bin = 0 THEN 0.0
             ELSE POW(2.0, bin - 1)
                  + POW(2.0, bin - 1) * (q * tot - (cum - cnt)) / cnt
             END, 6) AS est
FROM j WHERE rn = 1"""


def _k1coloring_sql(rounds: int = 8) -> str:
    """Unrolled greedy recoloring (operators/clustering.k1coloring):
    per round, conflicted larger-id endpoints pick the smallest color not
    in their neighborhood. Idempotent once proper; measured convergence ≤ 4
    rounds on the link graph (hub-and-spoke shape), margin 2×."""
    parts = [f"WITH {EDGES_SQL},",
             """cu AS MATERIALIZED (SELECT src, dst FROM (
                 SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
                 FROM edges WHERE src <> dst) GROUP BY src, dst),""",
             "u2 AS MATERIALIZED (SELECT src, dst FROM cu UNION ALL SELECT dst, src FROM cu),",
             "dg AS MATERIALIZED (SELECT src AS node_id, COUNT(*) AS deg FROM u2 GROUP BY src),",
             "k0 AS MATERIALIZED (SELECT node_id, CAST(0 AS BIGINT) AS color FROM nodes),"]
    for r in range(1, rounds + 1):
        p = f"k{r-1}"
        parts.append(
            f"cf{r} AS MATERIALIZED (SELECT DISTINCT e.src AS node_id FROM u2 e "
            f"JOIN {p} a ON e.src = a.node_id JOIN {p} b ON e.dst = b.node_id "
            f"WHERE a.color = b.color AND e.src > e.dst),")
        parts.append(
            f"nc{r} AS MATERIALIZED (SELECT DISTINCT e.src AS node_id, "
            f"b.color AS used FROM u2 e JOIN cf{r} f ON e.src = f.node_id "
            f"JOIN {p} b ON e.dst = b.node_id),")
        parts.append(
            f"cd{r} AS MATERIALIZED (SELECT f.node_id, CAST(t.c AS BIGINT) AS c "
            f"FROM cf{r} f JOIN dg d ON f.node_id = d.node_id, "
            f"UNNEST(range(0, d.deg + 1)) AS t(c)),")
        parts.append(
            f"pk{r} AS MATERIALIZED (SELECT cd.node_id, MIN(cd.c) AS newc "
            f"FROM cd{r} cd LEFT JOIN nc{r} n ON cd.node_id = n.node_id "
            f"AND cd.c = n.used WHERE n.used IS NULL GROUP BY cd.node_id),")
        parts.append(
            f"k{r} AS MATERIALIZED (SELECT k.node_id, "
            f"COALESCE(p.newc, k.color) AS color FROM {p} k "
            f"LEFT JOIN pk{r} p ON k.node_id = p.node_id),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, color FROM k{rounds}"


def _maxkcut_sql(k: int = 3, iters: int = 8, classes: int = 2) -> str:
    """Unrolled deterministic max-k-cut local moving (operators/cut.py):
    class-restricted sync moves to the part minimizing internal weight,
    ROUND 6dp, ties → smaller part; idempotent once converged."""
    parts = [f"WITH {EDGES_SQL},",
             """adjx AS MATERIALIZED (
    SELECT src, dst, SUM(w) AS w FROM (
        SELECT src, dst, weight AS w FROM edges WHERE src <> dst
        UNION ALL
        SELECT dst AS src, src AS dst, weight FROM edges WHERE src <> dst
        UNION ALL
        SELECT src, dst, weight * 2.0 FROM edges WHERE src = dst
    ) GROUP BY src, dst),""",
             f"p0 AS MATERIALIZED (SELECT node_id, node_id % {k} AS part FROM nodes),"]
    n_rounds = iters * classes
    for r in range(1, n_rounds + 1):
        p = (r - 1) % classes
        prev = f"p{r-1}"
        parts.append(
            f"kvp{r} AS MATERIALIZED (SELECT a.src, c.part AS P, SUM(a.w) AS kvp "
            f"FROM adjx a JOIN {prev} c ON a.dst = c.node_id "
            f"WHERE a.src <> a.dst AND a.src % {classes} = {p} "
            f"GROUP BY a.src, c.part),")
        parts.append(
            f"cnd{r} AS MATERIALIZED (SELECT mc.src, mc.cur, mc.cand, "
            f"ROUND(COALESCE(kv.kvp, 0.0), 6) AS kvp FROM "
            f"(SELECT m.node_id AS src, m.part AS cur, t.cand "
            f"FROM {prev} m, (SELECT unnest(range(0, {k})) AS cand) t "
            f"WHERE m.node_id % {classes} = {p}) mc "
            f"LEFT JOIN kvp{r} kv ON kv.src = mc.src AND kv.P = mc.cand),")
        parts.append(
            f"ag{r}x AS MATERIALIZED (SELECT src, cur, MIN(kvp) AS kmin, "
            f"MIN(CASE WHEN cand = cur THEN kvp END) AS cur_k "
            f"FROM cnd{r} GROUP BY src, cur),")
        parts.append(
            f"bc{r}x AS MATERIALIZED (SELECT c.src, a.cur, a.kmin, a.cur_k, "
            f"MIN(c.cand) AS bcand FROM cnd{r} c JOIN ag{r}x a "
            f"ON c.src = a.src AND c.kvp = a.kmin "
            f"GROUP BY c.src, a.cur, a.kmin, a.cur_k),")
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT p.node_id, "
            f"COALESCE(CASE WHEN u.kmin < u.cur_k THEN u.bcand ELSE u.cur END, "
            f"p.part) AS part FROM {prev} p LEFT JOIN bc{r}x u "
            f"ON p.node_id = u.src),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + (f"SELECT node_id, CAST(part AS BIGINT) AS community "
                   f"FROM p{n_rounds}")


def _hashgnn_sql(feature_space: int = 64, density: float = 0.1,
                 embedding_density: int = 8, iterations: int = 2,
                 seed: int = 42) -> str:
    """Unrolled HashGNN min-hash sampling (operators/embeddings.hashgnn)."""
    u_init = _u01_sql("n.node_id", "f.feature", str(seed))
    parts = [f"WITH {EDGES_SQL},",
             "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),",
             f"ftt AS MATERIALIZED (SELECT unnest(range(0, {feature_space})) AS feature),",
             f"slt AS MATERIALIZED (SELECT unnest(range(0, {embedding_density})) AS slot),",
             f"f0 AS MATERIALIZED (SELECT n.node_id, f.feature FROM nodes n, ftt f "
             f"WHERE {u_init} < {density!r}),"]
    for t in range(int(iterations)):
        u_s = _u01_sql(str(t), "hp.slot", "hp.feature", str(seed))
        parts.append(
            f"pool{t} AS MATERIALIZED (SELECT DISTINCT node_id, feature FROM ("
            f"SELECT node_id, feature FROM f{t} UNION ALL "
            f"SELECT e.dst AS node_id, s.feature FROM de e "
            f"JOIN f{t} s ON e.src = s.node_id)),")
        parts.append(
            f"hs{t} AS MATERIALIZED (SELECT hp.node_id, hp.slot, hp.feature, "
            f"{u_s} AS h FROM (SELECT p.node_id, sl.slot, p.feature "
            f"FROM pool{t} p, slt sl) hp),")
        parts.append(
            f"m1_{t} AS MATERIALIZED (SELECT node_id, slot, MIN(h) AS hmin "
            f"FROM hs{t} GROUP BY node_id, slot),")
        parts.append(
            f"sm{t} AS MATERIALIZED (SELECT h.node_id, h.slot, "
            f"MIN(h.feature) AS feature FROM hs{t} h JOIN m1_{t} m "
            f"ON h.node_id = m.node_id AND h.slot = m.slot AND h.h = m.hmin "
            f"GROUP BY h.node_id, h.slot),")
        parts.append(
            f"f{t+1} AS MATERIALIZED (SELECT DISTINCT node_id, feature FROM sm{t}),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, slot, feature FROM sm{int(iterations)-1}"


def _celf_sql(k: int = 3, prob: float = 0.2, sims: int = 4, pool: int = 10,
              seed: int = 42, hops: int = 4) -> str:
    """Unrolled greedy IC influence maximization (operators/influence.py):
    deterministic live-edge cascades, per-candidate reach BFS (``hops`` ≥
    live-subgraph diameter — link graph: 2), then k greedy rounds of
    marginal-gain set arithmetic. spread = covered/sims is exact rational."""
    u_live = _u01_sql("e.src", "e.dst", "s.sim", str(seed))
    parts = [f"WITH {EDGES_SQL},",
             "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),",
             "dgc AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM de GROUP BY src),",
             f"cnds AS MATERIALIZED (SELECT src AS cand FROM ("
             f"SELECT src, ROW_NUMBER() OVER (ORDER BY deg DESC, src) AS r "
             f"FROM dgc) WHERE r <= {pool}),",
             f"simt AS MATERIALIZED (SELECT unnest(range(0, {sims})) AS sim),",
             f"live AS MATERIALIZED (SELECT s.sim, e.src, e.dst FROM de e, simt s "
             f"WHERE {u_live} < {prob!r}),",
             "rc0 AS MATERIALIZED (SELECT c.cand, s.sim, c.cand AS node_id "
             "FROM cnds c, simt s),"]
    for h in range(1, hops + 1):
        parts.append(
            f"rc{h} AS MATERIALIZED (SELECT DISTINCT cand, sim, node_id FROM ("
            f"SELECT cand, sim, node_id FROM rc{h-1} UNION ALL "
            f"SELECT r.cand, r.sim, l.dst AS node_id FROM rc{h-1} r "
            f"JOIN live l ON l.sim = r.sim AND l.src = r.node_id)),")
    parts.append(f"reach AS MATERIALIZED (SELECT * FROM rc{hops}),")
    chosen_union = None
    for r in range(int(k)):
        excl = (f"AND c.cand NOT IN (SELECT node_id FROM ch{r-1}a)"
                if r > 0 else "")
        if r == 0:
            parts.append(
                "gn0 AS MATERIALIZED (SELECT cand, COUNT(*) AS g FROM reach "
                "GROUP BY cand),")
        else:
            parts.append(
                f"fr{r} AS MATERIALIZED (SELECT re.cand, re.sim, re.node_id "
                f"FROM reach re LEFT JOIN cov{r-1} cv "
                f"ON re.sim = cv.sim AND re.node_id = cv.node_id "
                f"WHERE cv.node_id IS NULL),")
            parts.append(
                f"gn{r} AS MATERIALIZED (SELECT c.cand, "
                f"COALESCE(x.g, 0) AS g FROM cnds c "
                f"LEFT JOIN (SELECT cand, COUNT(*) AS g FROM fr{r} "
                f"GROUP BY cand) x ON c.cand = x.cand WHERE 1=1 {excl}),")
        parts.append(
            f"b{r} AS MATERIALIZED (SELECT cand FROM gn{r} "
            + (f"WHERE cand NOT IN (SELECT node_id FROM ch{r-1}a) " if r > 0 else "")
            + "ORDER BY g DESC, cand LIMIT 1),")
        prev_cov = (f"SELECT sim, node_id FROM cov{r-1} UNION ALL " if r > 0 else "")
        parts.append(
            f"cov{r} AS MATERIALIZED (SELECT DISTINCT sim, node_id FROM ("
            f"{prev_cov}"
            f"SELECT sim, node_id FROM reach WHERE cand = (SELECT cand FROM b{r}))),")
        prev_ch = (f"SELECT node_id FROM ch{r-1}a UNION ALL " if r > 0 else "")
        parts.append(
            f"ch{r}a AS MATERIALIZED ({prev_ch}"
            f"SELECT cand AS node_id FROM b{r}),")
        parts.append(
            f"out{r} AS MATERIALIZED (SELECT CAST({r} AS BIGINT) AS rank, "
            f"(SELECT cand FROM b{r}) AS node_id, "
            f"ROUND((SELECT COUNT(*) FROM cov{r}) / {float(sims)!r}, 6) AS spread),")
    unions = " UNION ALL ".join(f"SELECT * FROM out{r}" for r in range(int(k)))
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT rank, node_id, spread FROM ({unions})"


#: back-edges that give the (otherwise acyclic) link graph real SCCs:
#: reverse every cust→supp edge with (src+dst) % 7 == 0 — deterministic,
#: derived identically on both engines
_SCC_EDGES = """
edges2 AS MATERIALIZED (
    SELECT src, dst FROM edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges
    WHERE src < 1000000 AND dst >= 1000000 AND dst < 2000000
      AND (src + dst) % 7 = 0
)"""


def _scc_sql(outer: int = 3, trim: int = 8, color: int = 12, sweep: int = 12) -> str:
    """Unrolled trim + forward-max coloring + color-restricted backward sweep
    (operators/scc.py recurrence). Measured at sf0.01/0.1: 1 outer round,
    trim depth ≤ 4 (layered graph), color/sweep ≤ ~6 (SCC diameter);
    margins 2-3×. Every phase is an idempotent fixpoint, so oversized
    unrolls are safe."""
    parts = [f"WITH {EDGES_SQL},", _SCC_EDGES + ","]
    parts.append("al_0_end AS MATERIALIZED (SELECT node_id FROM nodes),")
    parts.append("asg0 AS MATERIALIZED (SELECT node_id, node_id AS component "
                 "FROM nodes WHERE 1 = 0),")
    for o in range(1, outer + 1):
        prev_alive = f"al_{o-1}_end"
        prev_asg = f"asg{o-1}"
        # trim rounds
        a = prev_alive
        for t in range(1, trim + 1):
            tag = f"{o}_{t}"
            parts.append(
                f"te{tag} AS MATERIALIZED (SELECT e.src, e.dst FROM edges2 e "
                f"JOIN {a} x ON e.src = x.node_id JOIN {a} y ON e.dst = y.node_id),")
            parts.append(
                f"tk{tag} AS MATERIALIZED (SELECT a.node_id FROM {a} a "
                f"JOIN (SELECT DISTINCT src AS node_id FROM te{tag}) od USING (node_id) "
                f"JOIN (SELECT DISTINCT dst AS node_id FROM te{tag}) idg USING (node_id)),")
            parts.append(
                f"tr{tag} AS MATERIALIZED (SELECT a.node_id, a.node_id AS component "
                f"FROM {a} a LEFT JOIN tk{tag} k ON a.node_id = k.node_id "
                f"WHERE k.node_id IS NULL),")
            a = f"tk{tag}"
        trims = " UNION ALL ".join(
            f"SELECT * FROM tr{o}_{t}" for t in range(1, trim + 1))
        parts.append(f"trall{o} AS MATERIALIZED ({trims}),")
        # alive edges after trim
        parts.append(
            f"ae{o} AS MATERIALIZED (SELECT e.src, e.dst FROM edges2 e "
            f"JOIN {a} x ON e.src = x.node_id JOIN {a} y ON e.dst = y.node_id),")
        # coloring: forward max
        parts.append(f"cl{o}_0 AS MATERIALIZED (SELECT node_id, node_id AS lab FROM {a}),")
        for l in range(1, color + 1):
            parts.append(
                f"cl{o}_{l} AS MATERIALIZED (SELECT n.node_id, "
                f"GREATEST(n.lab, COALESCE(mx.m, n.lab)) AS lab FROM cl{o}_{l-1} n "
                f"LEFT JOIN (SELECT e.dst AS node_id, MAX(s.lab) AS m FROM ae{o} e "
                f"JOIN cl{o}_{l-1} s ON e.src = s.node_id GROUP BY e.dst) mx "
                f"ON n.node_id = mx.node_id),")
        parts.append(
            f"co{o} AS MATERIALIZED (SELECT node_id, lab AS color FROM cl{o}_{color}),")
        # same-color edges + backward sweep (monotone reached-set fixpoint)
        parts.append(
            f"ce{o} AS MATERIALIZED (SELECT e.src, e.dst, cs.color FROM ae{o} e "
            f"JOIN co{o} cs ON e.src = cs.node_id "
            f"JOIN co{o} cd ON e.dst = cd.node_id WHERE cs.color = cd.color),")
        parts.append(
            f"rw{o}_0 AS MATERIALIZED (SELECT node_id, color FROM co{o} "
            f"WHERE node_id = color),")
        for j in range(1, sweep + 1):
            parts.append(
                f"rw{o}_{j} AS MATERIALIZED (SELECT DISTINCT node_id, color FROM ("
                f"SELECT node_id, color FROM rw{o}_{j-1} "
                f"UNION ALL "
                f"SELECT e.src AS node_id, e.color FROM ce{o} e "
                f"JOIN rw{o}_{j-1} r ON e.dst = r.node_id AND e.color = r.color)),")
        parts.append(
            f"fnd{o} AS MATERIALIZED (SELECT node_id, color AS component "
            f"FROM rw{o}_{sweep}),")
        parts.append(
            f"asg{o} AS MATERIALIZED (SELECT * FROM {prev_asg} "
            f"UNION ALL SELECT * FROM trall{o} UNION ALL SELECT * FROM fnd{o}),")
        parts.append(
            f"al_{o}_end AS MATERIALIZED (SELECT a.node_id FROM {a} a "
            f"LEFT JOIN fnd{o} f ON a.node_id = f.node_id WHERE f.node_id IS NULL),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + (
        f"SELECT a.node_id, lm.mn AS component FROM asg{outer} a "
        f"JOIN (SELECT component, MIN(node_id) AS mn FROM asg{outer} "
        f"GROUP BY component) lm ON a.component = lm.component")


def _coreness_sql(rounds: int = 12) -> str:
    """Unrolled h-index fixpoint (same recurrence as operators/kcore.coreness).

    Convergence bound: rounds to fixpoint of the h-operator — measured 3-4
    on the link graph at sf0.01/sf0.1 (the 3-layer shape bounds it, not row
    count); 12 carries 3× margin. Post-convergence rounds are idempotent
    (H of an already-fixed neighborhood returns the same value)."""
    parts = [f"WITH {EDGES_SQL},",
             """cu AS MATERIALIZED (SELECT src, dst FROM (
                 SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst
                 FROM edges WHERE src <> dst) GROUP BY src, dst),""",
             "u2 AS MATERIALIZED (SELECT src, dst FROM cu UNION ALL SELECT dst, src FROM cu),",
             "dg AS MATERIALIZED (SELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS core "
             "FROM u2 GROUP BY src),",
             "c0 AS MATERIALIZED (SELECT n.node_id, COALESCE(d.core, 0) AS core "
             "FROM nodes n LEFT JOIN dg d ON n.node_id = d.node_id),"]
    for r in range(1, rounds + 1):
        p = f"c{r-1}"
        parts.append(
            f"h{r} AS MATERIALIZED (SELECT v, MAX(LEAST(rn, c)) AS h FROM ("
            f"SELECT e.src AS v, s.core AS c, "
            f"ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY s.core DESC) AS rn "
            f"FROM u2 e JOIN {p} s ON e.dst = s.node_id) GROUP BY v),")
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT c.node_id, "
            f"CAST(COALESCE(h.h, c.core) AS BIGINT) AS core "
            f"FROM {p} c LEFT JOIN h{r} h ON c.node_id = h.v),")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, core FROM c{rounds}"


def _louvain_sql(levels: int = 2, iters: int = 4, classes: int = 2,
                 refine_rounds: int = 0) -> str:
    """Unrolled deterministic Louvain (operators/louvain.py recurrence):
    class-restricted synchronous local moving + min-member relabel + coarsen.

    Engine parity requires calling the engine with the SAME fixed schedule
    (max_levels=levels, max_iterations=iters, n_classes=classes); the engine
    may converge earlier — post-convergence sub-rounds move nobody (strict
    > on the rounded score), so the fixed unroll is idempotent. All scores
    are ROUND(·, 6); on the integer-weighted link graph every operand is an
    exact small integer, so Spark and DuckDB agree bit-for-bit.
    Level count: the 3-layer link graph coarsens to its final shape in 2
    levels (level 3 is a no-op — idempotence again if raised)."""
    parts = [f"WITH {EDGES_SQL},",
             """adj0 AS MATERIALIZED (
    SELECT src, dst, SUM(w) AS w FROM (
        SELECT src, dst, weight AS w FROM edges WHERE src <> dst
        UNION ALL
        SELECT dst AS src, src AS dst, weight FROM edges WHERE src <> dst
        UNION ALL
        SELECT src, dst, weight * 2.0 FROM edges WHERE src = dst
    ) GROUP BY src, dst),""",
             "mm AS MATERIALIZED (SELECT SUM(w) / 2.0 AS m FROM adj0),"]
    final_maps = []
    for lv in range(1, levels + 1):
        adj = f"adj{lv - 1}"
        if lv == 1:
            parts.append(f"sup{lv} AS MATERIALIZED (SELECT node_id FROM nodes),")
        else:
            parts.append(
                f"sup{lv} AS MATERIALIZED (SELECT DISTINCT comm AS node_id "
                f"FROM rl{lv - 1}),")
        parts.append(
            f"k{lv} AS MATERIALIZED (SELECT s.node_id, COALESCE(x.k, 0.0) AS k "
            f"FROM sup{lv} s LEFT JOIN (SELECT src AS node_id, SUM(w) AS k "
            f"FROM {adj} GROUP BY src) x ON s.node_id = x.node_id),")
        parts.append(
            f"c{lv}_0 AS MATERIALIZED (SELECT node_id, node_id AS comm FROM sup{lv}),")
        n_rounds = iters * classes
        for r in range(1, n_rounds + 1):
            p = (r - 1) % classes
            prev = f"c{lv}_{r - 1}"
            t = f"{lv}_{r}"
            parts.append(
                f"vol{t} AS MATERIALIZED (SELECT c.comm, SUM(k.k) AS vol "
                f"FROM {prev} c JOIN k{lv} k ON c.node_id = k.node_id GROUP BY c.comm),")
            parts.append(
                f"kuc{t} AS MATERIALIZED (SELECT a.src, c.comm AS C, SUM(a.w) AS kuc "
                f"FROM {adj} a JOIN {prev} c ON a.dst = c.node_id "
                f"WHERE a.src <> a.dst AND a.src % {classes} = {p} "
                f"GROUP BY a.src, c.comm),")
            parts.append(
                f"cand{t} AS MATERIALIZED (SELECT src, C, SUM(kuc) AS kuc FROM ("
                f"SELECT src, C, kuc FROM kuc{t} "
                f"UNION ALL "
                f"SELECT node_id AS src, comm AS C, 0.0 AS kuc FROM {prev} "
                f"WHERE node_id % {classes} = {p}) GROUP BY src, C),")
            parts.append(
                f"sc{t} AS MATERIALIZED (SELECT d.src, cu.comm AS cur, d.C, "
                f"ROUND(d.kuc - kk.k * (v.vol - CASE WHEN d.C = cu.comm "
                f"THEN kk.k ELSE 0.0 END) / (2.0 * mm.m), 6) AS s "
                f"FROM cand{t} d "
                f"JOIN {prev} cu ON d.src = cu.node_id "
                f"JOIN vol{t} v ON d.C = v.comm "
                f"JOIN k{lv} kk ON d.src = kk.node_id, mm),")
            parts.append(
                f"ag{t} AS MATERIALIZED (SELECT src, cur, MAX(s) AS smax, "
                f"MAX(CASE WHEN C = cur THEN s END) AS cur_s "
                f"FROM sc{t} GROUP BY src, cur),")
            parts.append(
                f"bc{t} AS MATERIALIZED (SELECT x.src, a.cur, a.smax, a.cur_s, "
                f"MIN(x.C) AS bestC "
                f"FROM sc{t} x JOIN ag{t} a ON x.src = a.src AND x.s = a.smax "
                f"GROUP BY x.src, a.cur, a.smax, a.cur_s),")
            parts.append(
                f"c{lv}_{r} AS MATERIALIZED (SELECT c.node_id, "
                f"COALESCE(CASE WHEN u.smax > u.cur_s THEN u.bestC ELSE u.cur END, "
                f"c.comm) AS comm "
                f"FROM {prev} c LEFT JOIN bc{t} u ON c.node_id = u.src),")
        last = f"c{lv}_{n_rounds}"
        if refine_rounds > 0:
            # Leiden θ=0 connectivity refinement (operators/louvain.py
            # _refine_connectivity): split every local-move community into
            # the connected components of its induced subgraph — min-id
            # label propagation restricted to intra-community edges,
            # unrolled to a fixpoint-reaching depth (the engine iterates to
            # convergence; extra rounds are idempotent). At the fixpoint
            # lab == min member id per fragment, so the min-member relabel
            # is the labels themselves.
            parts.append(
                f"in{lv} AS MATERIALIZED (SELECT a.src, a.dst FROM {adj} a "
                f"JOIN {last} cu ON a.src = cu.node_id "
                f"JOIN {last} cv ON a.dst = cv.node_id "
                f"WHERE a.src <> a.dst AND cu.comm = cv.comm),")
            parts.append(
                f"lb{lv}_0 AS MATERIALIZED (SELECT node_id, node_id AS lab "
                f"FROM sup{lv}),")
            for rr in range(1, refine_rounds + 1):
                prevl = f"lb{lv}_{rr - 1}"
                parts.append(
                    f"lb{lv}_{rr} AS MATERIALIZED (SELECT l.node_id, "
                    f"LEAST(l.lab, COALESCE(mn.m, l.lab)) AS lab "
                    f"FROM {prevl} l LEFT JOIN ("
                    f"SELECT i.dst AS node_id, MIN(ls.lab) AS m "
                    f"FROM in{lv} i JOIN {prevl} ls ON i.src = ls.node_id "
                    f"GROUP BY i.dst) mn ON l.node_id = mn.node_id),")
            # fixpoint ASSERTION, not assumption: if the unroll depth were
            # ever insufficient on some gate dataset (propagation depth >
            # refine_rounds inside one community), the oracle must fail
            # loudly instead of silently diverging from a correct engine
            # answer — error() fires unless the last round changed nothing
            parts.append(
                f"fx{lv} AS MATERIALIZED (SELECT COUNT(*) AS n FROM "
                f"lb{lv}_{refine_rounds} a JOIN lb{lv}_{refine_rounds - 1} b "
                f"ON a.node_id = b.node_id AND a.lab <> b.lab),")
            parts.append(
                f"rl{lv} AS MATERIALIZED (SELECT l.node_id, "
                f"CASE WHEN f.n = 0 THEN l.lab "
                f"ELSE error('leiden refine unroll not converged') END AS comm "
                f"FROM lb{lv}_{refine_rounds} l, fx{lv} f),")
        else:
            parts.append(
                f"rl{lv} AS MATERIALIZED (SELECT c.node_id, lm.new AS comm "
                f"FROM {last} c JOIN (SELECT comm, MIN(node_id) AS new FROM {last} "
                f"GROUP BY comm) lm ON c.comm = lm.comm),")
        final_maps.append(f"rl{lv}")
        if lv < levels:
            parts.append(
                f"adj{lv} AS MATERIALIZED (SELECT cu.comm AS src, cv.comm AS dst, "
                f"SUM(a.w) AS w FROM {adj} a "
                f"JOIN rl{lv} cu ON a.src = cu.node_id "
                f"JOIN rl{lv} cv ON a.dst = cv.node_id GROUP BY cu.comm, cv.comm),")
    body = "\n".join(parts).rstrip(",") + "\n"
    # compose the per-level maps: node → comm₁ → comm₂ → …
    sel = "SELECT m1.node_id, "
    frm = "FROM rl1 m1"
    for i in range(2, levels + 1):
        frm += f" JOIN rl{i} m{i} ON m{i - 1}.comm = m{i}.node_id"
    sel += f"m{levels}.comm AS community " if levels > 1 else "m1.comm AS community "
    return body + sel + frm


#: nation membership as the deterministic community assignment for the
#: community-metric oracles (mirrors _nation_communities below)
_COMM_SQL = """
comm AS MATERIALIZED (
    SELECT c_custkey AS node_id, 2000000 + c_nationkey AS community FROM customer
    UNION ALL
    SELECT 1000000 + s_suppkey, 2000000 + s_nationkey FROM supplier
    UNION ALL
    SELECT 2000000 + n_nationkey, 2000000 + n_nationkey FROM nation
),
ec AS MATERIALIZED (
    SELECT e.src, e.dst, 1.0 AS w, cs.community AS c_src, cd.community AS c_dst
    FROM edges e
    JOIN comm cs ON e.src = cs.node_id
    JOIN comm cd ON e.dst = cd.node_id
),
mtot AS MATERIALIZED (SELECT SUM(w) AS m FROM ec)
"""


def _eigenvector_sql(iters: int = 10) -> str:
    parts = [f"WITH {EDGES_SQL},",
             "nn AS MATERIALIZED (SELECT 1.0 / SQRT(CAST(COUNT(*) AS DOUBLE)) AS iv FROM nodes),",
             "e0 AS MATERIALIZED (SELECT node_id, iv AS rank FROM nodes, nn),"]
    prev = "e0"
    for k in range(1, iters + 1):
        parts += [
            f"m{k} AS MATERIALIZED (SELECT e.dst AS node_id, SUM(s.rank) AS msg "
            f"FROM edges e JOIN {prev} s ON e.src = s.node_id GROUP BY e.dst),",
            f"u{k} AS MATERIALIZED (SELECT s.node_id, COALESCE(m.msg, 0.0) AS unnorm "
            f"FROM {prev} s LEFT JOIN m{k} m ON s.node_id = m.node_id),",
            f"n{k} AS MATERIALIZED (SELECT SQRT(SUM(unnorm * unnorm)) AS nv FROM u{k}),",
            f"e{k} AS MATERIALIZED (SELECT node_id, CASE WHEN nv > 0 THEN unnorm / nv "
            f"ELSE 0.0 END AS rank FROM u{k}, n{k}),",
        ]
        prev = f"e{k}"
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, ROUND(rank, 6) AS score FROM {prev}"


def _hits_sql(iters: int = 20) -> str:
    parts = [f"WITH {EDGES_SQL},",
             "h0 AS MATERIALIZED (SELECT node_id, 1.0 AS hub, 1.0 AS auth FROM nodes),"]
    prev = "h0"
    for k in range(1, iters + 1):
        parts += [
            f"am{k} AS MATERIALIZED (SELECT e.dst AS node_id, SUM(s.hub) AS a "
            f"FROM edges e JOIN {prev} s ON e.src = s.node_id GROUP BY e.dst),",
            f"sa{k} AS MATERIALIZED (SELECT s.node_id, s.hub, COALESCE(am.a, 0.0) AS auth "
            f"FROM {prev} s LEFT JOIN am{k} am ON s.node_id = am.node_id),",
            f"na{k} AS MATERIALIZED (SELECT SQRT(SUM(auth * auth)) AS nv FROM sa{k}),",
            f"san{k} AS MATERIALIZED (SELECT node_id, hub, "
            f"CASE WHEN nv > 0 THEN auth / nv ELSE 0.0 END AS auth FROM sa{k}, na{k}),",
            f"hm{k} AS MATERIALIZED (SELECT e.src AS node_id, SUM(s.auth) AS h "
            f"FROM edges e JOIN san{k} s ON e.dst = s.node_id GROUP BY e.src),",
            f"sh{k} AS MATERIALIZED (SELECT s.node_id, COALESCE(hm.h, 0.0) AS hub, s.auth "
            f"FROM san{k} s LEFT JOIN hm{k} hm ON s.node_id = hm.node_id),",
            f"nh{k} AS MATERIALIZED (SELECT SQRT(SUM(hub * hub)) AS nv FROM sh{k}),",
            f"h{k} AS MATERIALIZED (SELECT node_id, "
            f"CASE WHEN nv > 0 THEN hub / nv ELSE 0.0 END AS hub, auth FROM sh{k}, nh{k}),",
        ]
        prev = f"h{k}"
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + f"SELECT node_id, ROUND(hub, 6) AS hub, ROUND(auth, 6) AS auth FROM {prev}"


_TRI_BASE = f"""WITH {EDGES_SQL},
ce AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       FROM edges WHERE src <> dst),
tri AS MATERIALIZED (SELECT w.a AS x, w.b AS y, w.c AS z FROM (
            SELECT e1.a, e1.b, e2.b AS c
            FROM ce e1 JOIN ce e2 ON e1.a = e2.a AND e1.b < e2.b) w
        JOIN ce e3 ON e3.a = w.b AND e3.b = w.c)
"""

_TRI_COUNT_SQL = _TRI_BASE + """,
corners AS (SELECT x AS node_id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
cnt AS (SELECT node_id, CAST(COUNT(*) AS BIGINT) AS triangles FROM corners GROUP BY node_id)
SELECT n.node_id, CAST(COALESCE(c.triangles, 0) AS BIGINT) AS triangles
FROM nodes n LEFT JOIN cnt c ON n.node_id = c.node_id
"""

_TRI_GLOBAL_SQL = _TRI_BASE + "SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri"

_LCC_SQL = _TRI_BASE + """,
corners AS (SELECT x AS node_id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
cnt AS (SELECT node_id, COUNT(*) AS triangles FROM corners GROUP BY node_id),
dg AS (SELECT node_id, CAST(COUNT(*) AS DOUBLE) AS d FROM
       (SELECT a AS node_id FROM ce UNION ALL SELECT b FROM ce) GROUP BY node_id)
SELECT n.node_id,
       CASE WHEN COALESCE(dg.d, 0.0) < 2 THEN 0.0
            ELSE ROUND(2.0 * COALESCE(cnt.triangles, 0) / (dg.d * (dg.d - 1.0)), 6)
       END AS lcc
FROM nodes n LEFT JOIN cnt ON n.node_id = cnt.node_id LEFT JOIN dg ON n.node_id = dg.node_id
"""


# ---------------------------------------------------------------------------
# engine-side helpers
# ---------------------------------------------------------------------------

def _nation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graph_data_science_spark.sources.tpch_graph import NATION_BASE, SUPP_BASE, load_tables

    t = load_tables(spark, sf_dir, names=("customer", "supplier", "nation"))
    return (
        t["customer"].select(F.col("c_custkey").alias("node_id"),
                             (F.lit(NATION_BASE) + F.col("c_nationkey")).alias("community"))
        .unionByName(t["supplier"].select(
            (F.lit(SUPP_BASE) + F.col("s_suppkey")).alias("node_id"),
            (F.lit(NATION_BASE) + F.col("s_nationkey")).alias("community")))
        .unionByName(t["nation"].select(
            (F.lit(NATION_BASE) + F.col("n_nationkey")).alias("node_id"),
            (F.lit(NATION_BASE) + F.col("n_nationkey")).alias("community")))
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _round(df: DataFrame, col: str, nd: int = 6) -> DataFrame:
    return df.withColumn(col, F.round(F.col(col), nd))


def _scc_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Link graph + deterministic back-edges (mirrors _SCC_EDGES)."""
    from graph_data_science_spark.sources.tpch_graph import NATION_BASE, SUPP_BASE

    g = build_graph(spark, sf_dir)
    back = g.edges.where(
        (F.col("src") < SUPP_BASE) & (F.col("dst") >= SUPP_BASE)
        & (F.col("dst") < NATION_BASE)
        & (F.pmod(F.col("src") + F.col("dst"), F.lit(7)) == 0)
    ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    edges = g.edges.select("src", "dst").unionByName(back)
    return Graph(nodes=g.nodes, edges=edges, directed=True, name="scc-graph")


def _cust_supp_graph(spark: SparkSession, sf_dir: str) -> Graph:
    g = build_graph(spark, sf_dir)
    from graph_data_science_spark.sources.tpch_graph import SUPP_BASE, NATION_BASE
    edges = g.edges.where(F.col("dst") < NATION_BASE)
    nodes = g.nodes.where(F.col("node_id") < NATION_BASE)
    return Graph(nodes=nodes, edges=edges, directed=True, name="cust-supp")


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the derived link graph at sf0.001."""
    g = build_graph(spark, "/root/testdata/sf0.001")
    res = pagerank(g)
    return res.scores.select("node_id", F.round("score", 6).alias("score"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # -- graph algorithms ----------------------------------------------------
    q["pagerank"] = lambda s, d: _round(
        pagerank(build_graph(s, d)).scores, "score")
    q["pagerank_weighted"] = lambda s, d: _round(
        pagerank(build_graph(s, d), weighted=True).scores, "score")
    q["article_rank"] = lambda s, d: _round(
        article_rank(build_graph(s, d)).scores, "score")
    from graph_data_science_spark.operators.pagerank import eigenvector
    q["eigenvector"] = lambda s, d: _round(
        eigenvector(build_graph(s, d), tolerance=0.0, max_iterations=10).scores,
        "score")
    q["wcc"] = lambda s, d: wcc(build_graph(s, d)).components
    q["wcc_threshold"] = lambda s, d: wcc(
        build_graph(s, d), threshold=2.0).components

    # -- execution-mode stats distributions (GDS *.stats parity) -------------
    from graph_data_science_spark.operators.result_stats import (
        centrality_distribution,
        community_distribution,
    )
    q["pagerank_stats"] = lambda s, d: centrality_distribution(
        _round(pagerank(build_graph(s, d)).scores, "score"))
    q["wcc_stats"] = lambda s, d: community_distribution(
        wcc(build_graph(s, d)).components)
    q["label_propagation"] = lambda s, d: label_propagation(
        build_graph(s, d)).labels
    q["label_propagation_weighted"] = lambda s, d: label_propagation(
        build_graph(s, d), weighted=True).labels
    q["triangle_count"] = lambda s, d: triangle_count(build_graph(s, d)).per_node
    q["triangle_global"] = lambda s, d: triangles(build_graph(s, d)).agg(
        F.count(F.lit(1)).alias("n_triangles"))
    q["local_clustering_coefficient"] = lambda s, d: _round(
        local_clustering_coefficient(build_graph(s, d)), "lcc")
    q["degree_out"] = lambda s, d: degree_centrality(build_graph(s, d))
    q["degree_in_weighted"] = lambda s, d: degree_centrality(
        build_graph(s, d), orientation="REVERSE", weighted=True)
    # exact mode pinned: the oracle computes exact Jaccard, and the library
    # default ("auto") may engage the hot-neighbor cap at gate scale
    q["node_similarity"] = lambda s, d: node_similarity(
        _cust_supp_graph(s, d), top_k=5, max_neighbor_frequency=None)

    # -- centrality / community metrics / walking -----------------------------
    from graph_data_science_spark.operators.community_metrics import (
        conductance, modularity)
    from graph_data_science_spark.operators.hits import hits as hits_op
    from graph_data_science_spark.operators.walking import collapse_path

    from graph_data_science_spark.operators.louvain import (
        leiden, louvain, modularity_optimization)
    from graph_data_science_spark.plans.loop_state import pinned_tier

    # fixed schedule matching the _louvain_sql unroll (levels=2, iters=4,
    # classes=2); the engine converging earlier is fine — idempotence
    q["louvain"] = lambda s, d: louvain(
        build_graph(s, d), max_levels=2, max_iterations=4).communities
    # leiden at its one fully-deterministic configuration (γ=1, θ=0):
    # louvain's class-scheduled local moving + connectivity-split
    # refinement between levels — value-hash oracled via the unrolled SQL
    # recurrence (refine_rounds unrolls the split's min-label fixpoint).
    # The default-θ randomized variant stays rows-only as q["leiden"].
    from graph_data_science_spark.operators.louvain import leiden as _leiden
    q["leiden_deterministic"] = lambda s, d: _leiden(
        build_graph(s, d), max_levels=2, max_iterations=4,
        theta=0.0).communities
    # the distributed sub-round kernel, pinned off the local finish by the
    # size policy's override — both paths are oracled against the same
    # unrolled-SQL recurrence (tests/test_louvain_local_finish.py proves
    # bit-parity directly)
    def _louvain_distributed(s, d):
        with pinned_tier("memory"):
            return louvain(build_graph(s, d), max_levels=2,
                           max_iterations=4).communities
    q["louvain_distributed"] = _louvain_distributed
    q["modularity_optimization"] = lambda s, d: modularity_optimization(
        build_graph(s, d), max_iterations=4).communities

    q["hits"] = lambda s, d: (lambda r: r.scores.select(
        "node_id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    ))(hits_op(build_graph(s, d), hits_iterations=20))
    q["modularity_nation"] = lambda s, d: _round(
        modularity(build_graph(s, d), _nation_communities(s, d)), "modularity")
    q["conductance_nation"] = lambda s, d: _round(
        conductance(build_graph(s, d), _nation_communities(s, d)), "conductance")
    q["collapse_path_2"] = lambda s, d: collapse_path(build_graph(s, d), 2)

    # -- paths / k-core -------------------------------------------------------
    from graph_data_science_spark.operators.kcore import coreness, k_core
    from graph_data_science_spark.operators.paths import (
        bfs, dag_levels, dijkstra, shortest_paths)

    from graph_data_science_spark.operators.centrality import (
        all_shortest_paths, betweenness, closeness, harmonic)

    def _astar_q(s, d):
        from graph_data_science_spark.operators.paths import astar as astar_op
        from graph_data_science_spark.operators.paths import bfs as _bfs
        g = build_graph(s, d)
        # same deterministic target rule as the oracle: the smallest
        # reachable nation node (ids ≥ 2,000,000)
        target = _bfs(g, 1).distances.where(
            (F.col("node_id") >= 2000000) & (F.col("distance") < float("inf"))
        ).agg(F.min("node_id")).first()[0]
        r = astar_op(g, source=1, target=int(target), weighted=True)
        return r.paths.select(
            "source_node", "target_node",
            F.round("total_cost", 6).alias("total_cost"), "path")

    q["astar"] = _astar_q

    def _dag_lp_q(s, d):
        from graph_data_science_spark.operators.paths import dag_longest_path
        return dag_longest_path(build_graph(s, d), weighted=True).select(
            "node_id", F.round("dist", 6).alias("dist"), "pred")

    q["dag_longest_path"] = _dag_lp_q

    q["betweenness"] = lambda s, d: betweenness(build_graph(s, d))
    q["closeness"] = lambda s, d: closeness(build_graph(s, d))
    q["closeness_wf"] = lambda s, d: closeness(
        build_graph(s, d), wasserman_faust=True)
    q["harmonic"] = lambda s, d: harmonic(build_graph(s, d))
    q["all_shortest_paths"] = lambda s, d: all_shortest_paths(build_graph(s, d))
    q["shortest_path_dijkstra"] = lambda s, d: dijkstra(
        build_graph(s, d), source=1, weighted=True).paths.select(
        "source_node", "target_node",
        F.round("total_cost", 6).alias("total_cost"), "path")
    from graph_data_science_spark.operators.scc import scc as scc_op
    q["scc"] = lambda s, d: scc_op(_scc_graph(s, d))

    # -- negative-weight Bellman-Ford (gds.bellmanFord full contract) --------
    # deterministic fixtures derived from the 25-row nation table:
    # _bf_ring — 0→1→…→24→0 ring (w=1) + back-chords k→k−3 (w=−2) at
    #   k ∈ {5,10,15,20}: negative edges, NO negative cycle (each 4-loop
    #   totals +1) — exercises negative-weight relaxation to the fixpoint;
    # _bf_branches — four DISJOINT 3-cycles (total −1 each) hanging off
    #   source 0 — each is independently recovered through the pred graph
    #   (disjoint by construction: pred-based recovery returns the cycles
    #   the relaxation discovers, and overlapping cycles can shadow each
    #   other's pred structure — same property as the reference's).
    from graph_data_science_spark.operators.paths import bellman_ford

    def _bf_ring(s, d):
        nat = s.read.parquet(f"{d}/nation.parquet").select(
            F.col("n_nationkey").cast("long").alias("k"))
        ring = nat.select(F.col("k").alias("src"),
                          ((F.col("k") + 1) % 25).alias("dst"),
                          F.lit(1.0).alias("weight"))
        chords = nat.where((F.col("k") % 5 == 0) & (F.col("k") > 0)).select(
            F.col("k").alias("src"), (F.col("k") - 3).alias("dst"),
            F.lit(-2.0).alias("weight"))
        return graph_from_edges(s, ring.unionByName(chords),
                                nat.select(F.col("k").alias("node_id")))

    def _bf_branches(s, d):
        nat = s.read.parquet(f"{d}/nation.parquet").select(
            F.col("n_nationkey").cast("long").alias("k"))
        heads = nat.where((F.col("k") % 5 == 0) & (F.col("k") > 0))
        edges = (
            heads.select(F.lit(0).cast("long").alias("src"),
                         F.col("k").alias("dst"), F.lit(1.0).alias("weight"))
            .unionByName(heads.select(
                F.col("k").alias("src"), (F.col("k") + 1).alias("dst"),
                F.lit(1.0).alias("weight")))
            .unionByName(heads.select(
                (F.col("k") + 1).alias("src"), (F.col("k") + 2).alias("dst"),
                F.lit(1.0).alias("weight")))
            .unionByName(heads.select(
                (F.col("k") + 2).alias("src"), F.col("k").alias("dst"),
                F.lit(-3.0).alias("weight"))))
        return graph_from_edges(s, edges,
                                nat.select(F.col("k").alias("node_id")))

    q["bellman_ford_negative"] = lambda s, d: bellman_ford(
        _bf_ring(s, d), 0).distances.select(
        "node_id", F.round("distance", 6).alias("distance"))
    q["bellman_ford_cycles"] = lambda s, d: bellman_ford(
        _bf_branches(s, d), 0).negative_cycles

    # -- embeddings / clustering ---------------------------------------------
    from graph_data_science_spark.operators.clustering import k1coloring, kmeans
    from graph_data_science_spark.operators.embeddings import fastrp, random_walks

    q["fastrp"] = lambda s, d: fastrp(
        build_graph(s, d), embedding_dim=8, seed=42, long_format=True)
    q["random_walks"] = lambda s, d: random_walks(
        build_graph(s, d), walk_length=4, walks_per_node=2, seed=42)
    q["random_walks_biased"] = lambda s, d: random_walks(
        build_graph(s, d), walk_length=4, walks_per_node=1, seed=42,
        p=2.0, q=0.5)
    from graph_data_science_spark.operators.pq import (
        pq_encode, pq_topk, pq_train)

    def _pq_model(s, d):
        return pq_train(
            s.read.parquet(f"{d}/embeddings.parquet"),
            m=2, k=4, max_iterations=2)

    q["pq_codes"] = lambda s, d: pq_encode(
        s.read.parquet(f"{d}/embeddings.parquet"), _pq_model(s, d),
        flat=True)
    q["pq_topk"] = lambda s, d: (lambda v: pq_topk(
        v, _pq_model(s, d), queries=v.where("vec_id < 3"), k_neighbors=5))(
        s.read.parquet(f"{d}/embeddings.parquet"))

    # rows-only (IVF+PQ composition; its pieces — kmeans, pq_codes,
    # pq_topk — are each fully oracled, and the full-probe case is
    # pytest-pinned EQUAL to the oracled pq_topk ranking)
    from graph_data_science_spark.operators.pq import ivfpq_topk

    q["ivfpq_topk"] = lambda s, d: (lambda v: ivfpq_topk(
        v, _pq_model(s, d), queries=v.where("vec_id < 3"), k_neighbors=5,
        n_lists=8, n_probe=3, rerank_factor=4))(
        s.read.parquet(f"{d}/embeddings.parquet"))

    q["kmeans"] = lambda s, d: kmeans(
        s.read.parquet(f"{d}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        k=4, max_iterations=5).assignment.select(
        F.col("id").alias("vec_id"), F.col("cluster").cast("long").alias("cluster"))
    q["k1coloring"] = lambda s, d: k1coloring(build_graph(s, d))

    from graph_data_science_spark.operators.cut import maxkcut
    from graph_data_science_spark.operators.embeddings import hashgnn
    from graph_data_science_spark.operators.influence import (
        influence_maximization_celf)

    q["maxkcut"] = lambda s, d: maxkcut(
        build_graph(s, d), k=3, max_iterations=8).assignment
    q["hashgnn"] = lambda s, d: hashgnn(build_graph(s, d))

    def _graphsage_q(s, d):
        from graph_data_science_spark.operators.graphsage import (
            degree_features, graphsage_predict, init_weights)
        g = build_graph(s, d)
        return graphsage_predict(
            g, degree_features(g), init_weights([3, 4, 4], seed=42),
            sample_sizes=[3, 2], seed=42, long_format=True)

    q["graphsage"] = _graphsage_q
    q["celf"] = lambda s, d: influence_maximization_celf(build_graph(s, d))
    q["bfs"] = lambda s, d: bfs(build_graph(s, d), source=1).distances
    q["sssp_weighted"] = lambda s, d: shortest_paths(
        build_graph(s, d), source=1, weighted=True).distances
    from graph_data_science_spark.operators.paths import shortest_paths_delta
    # delta-stepping reaches the same fixpoint as sssp_weighted by a
    # bucketed schedule — the oracle is therefore the shared unrolled
    # relaxation (semantics, not schedule, is what the gate checks)
    q["sssp_delta"] = lambda s, d: shortest_paths_delta(
        build_graph(s, d), source=1, delta=2.0).distances
    q["dag_levels"] = lambda s, d: dag_levels(build_graph(s, d))
    from graph_data_science_spark.operators.paths import topological_sort
    q["dag_topological_sort"] = lambda s, d: topological_sort(build_graph(s, d))
    q["k_core_3"] = lambda s, d: k_core(build_graph(s, d), k=3)
    q["coreness"] = lambda s, d: coreness(build_graph(s, d))

    # -- scalers ---------------------------------------------------------
    q["scale_minmax"] = lambda s, d: _round(
        apply_scaler(
            s.read.parquet(f"{d}/orders.parquet")
            .select("o_orderkey", F.col("o_totalprice").cast("double").alias("scaled")),
            "scaled", "MINMAX"),
        "scaled")

    # -- event stream (batch forms; streaming variant in streaming/events) ---
    from graph_data_science_spark.streaming.events import (
        sessionize, windowed_counts_batch)

    q["events_sessionize"] = lambda s, d: sessionize(
        s.read.parquet(f"{d}/events.parquet"), gap_minutes=30)
    q["events_windowed_counts"] = lambda s, d: windowed_counts_batch(
        s.read.parquet(f"{d}/events.parquet"), "1 hour")

    # -- text / dedup / similarity (training-data ops) -----------------------
    from graph_data_science_spark.operators.sketches import (
        hll_distinct, hll_registers, histogram_quantiles, log_histogram)

    q["hll_registers_lang"] = lambda s, d: hll_registers(
        s.read.parquet(f"{d}/documents.parquet"), "lang", "text", p=9)
    q["hll_lang_distinct"] = lambda s, d: hll_distinct(
        s.read.parquet(f"{d}/documents.parquet"), "lang", "text", p=9)
    q["nchars_quantiles"] = lambda s, d: histogram_quantiles(
        log_histogram(s.read.parquet(f"{d}/documents.parquet"),
                      "lang", "n_chars"))

    q["token_count"] = lambda s, d: token_count(_docs(s, d))
    q["token_count_bpe"] = lambda s, d: token_count_bpe_ish(_docs(s, d))
    q["quality_score"] = lambda s, d: quality_score(_docs(s, d))
    q["language_id"] = lambda s, d: language_id(_docs(s, d))
    q["fingerprint"] = lambda s, d: fingerprint(_docs(s, d))

    def _repetition_q(s, d):
        from graph_data_science_spark.operators.text import repetition_stats
        return repetition_stats(_docs(s, d))

    q["repetition_stats"] = _repetition_q
    q["exact_duplicates"] = lambda s, d: exact_duplicates(_docs(s, d))
    q["minhash_signatures"] = lambda s, d: minhash_signatures(
        _docs(s, d), num_hashes=8)
    q["minhash_lsh_pairs"] = lambda s, d: minhash_lsh_pairs(
        _docs(s, d), num_hashes=8, bands=4)
    q["ngram_jaccard_pairs"] = lambda s, d: ngram_jaccard_pairs(
        _docs(s, d), threshold=0.2)
    q["simhash"] = lambda s, d: simhash(_docs(s, d), bits=32, shingle_n=2)
    q["embedding_cosine_topk"] = lambda s, d: cosine_topk(
        s.read.parquet(f"{d}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        k=3)
    from graph_data_science_spark.operators.dedup import embedding_near_duplicates
    # threshold 0.35 sits in the tail of the synthetic embeddings' cosine
    # distribution (max pairwise ≈ 0.51 at sf0.01) — non-trivial result set
    q["embedding_near_duplicates"] = lambda s, d: embedding_near_duplicates(
        s.read.parquet(f"{d}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        threshold=0.35)
    from graph_data_science_spark.operators.dedup import (
        embedding_lsh_buckets, embedding_lsh_pairs)
    # exact-integer random-hyperplane LSH: the scale path for semantic
    # near-dup candidate generation (banded; bucket join, never all-pairs).
    # threshold 0.3 for the same tail-of-distribution reason as above;
    # output = the verified colliding pairs (approximate by design — the
    # banding-recall test vs the exact kernel is in tests/)
    q["embedding_lsh_buckets"] = lambda s, d: embedding_lsh_buckets(
        s.read.parquet(f"{d}/embeddings.parquet"), n_bits=16, bands=4)
    q["embedding_lsh_pairs"] = lambda s, d: embedding_lsh_pairs(
        s.read.parquet(f"{d}/embeddings.parquet"), threshold=0.3,
        n_bits=16, bands=4)

    # -- non-SQL-expressible (rows-only checks) ------------------------------
    # BPE: the merge fold is sequential within a word, so no SQL oracle;
    # golden-tested against a pure-Python reference BPE in
    # tests/test_tokenizer.py (train + encode + greedy-overlap semantics)
    from graph_data_science_spark.operators.tokenizer import bpe_encode, bpe_train

    def _bpe_token_count(s, d):
        docs = _docs(s, d)
        return bpe_encode(docs, bpe_train(docs, n_merges=12)).select(
            "doc_id", "n_bpe_tokens")

    q["bpe_token_count"] = _bpe_token_count

    # session-8: integer-id encoding (the packing-stage input shape) —
    # rows-only for the same merge-fold reason; id/vocab roundtrip + OOV
    # contract pytest-pinned in tests/test_tokenizer.py
    def _bpe_encode_ids(s, d):
        from graph_data_science_spark.operators.tokenizer import (
            bpe_encode_ids)
        docs = _docs(s, d)
        return bpe_encode_ids(docs, bpe_train(docs, n_merges=12)).select(
            "doc_id", "n_bpe_tokens", F.size("ids").alias("n_ids"))

    q["bpe_encode_ids"] = _bpe_encode_ids
    # leiden: adds WCC-refinement between levels — the refinement's nested
    # fixpoint makes a fixed SQL unroll fragile (intra-community diameters
    # aren't structurally bounded); correctness is pytest property tests
    # (communities connected, equals louvain on clean structure)
    q["leiden"] = lambda s, d: leiden(
        build_graph(s, d), max_levels=2, max_iterations=4).communities
    from graph_data_science_spark.operators.paths import dfs as dfs_op
    from graph_data_science_spark.operators.paths import yens as yens_op
    from graph_data_science_spark.operators.spanning import spanning_tree
    from graph_data_science_spark.operators.walking import sample_cnarw

    q["dfs"] = lambda s, d: dfs_op(build_graph(s, d), source=1)

    def _yens_q(s, d):
        from graph_data_science_spark.operators.paths import bfs as _bfs
        g = build_graph(s, d)
        target = _bfs(g, 1).distances.where(
            (F.col("node_id") >= 2000000) & (F.col("distance") < float("inf"))
        ).agg(F.min("node_id")).first()[0]
        return yens_op(g, source=1, target=int(target), k=3)

    q["yens_k3"] = _yens_q
    q["spanning_tree"] = lambda s, d: spanning_tree(
        build_graph(s, d).to_undirected("MIN"), start_node=1)
    q["sample_cnarw"] = lambda s, d: sample_cnarw(
        build_graph(s, d), start_nodes=[1, 2, 3], rounds=3)
    # nn-descent is approximate by contract (reference Knn.java:51) —
    # rows-only gate; recall vs the exact kernel is pytest-asserted
    from graph_data_science_spark.operators.similarity import knn_nn_descent
    q["knn_embeddings"] = lambda s, d: knn_nn_descent(
        s.read.parquet(f"{d}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        k=3, max_iterations=6, seed=42)
    # filtered knn (reference filteredknn/FilteredKnn.java): exact kernel
    # with disjoint source/target predicates — fully oracled (sources =
    # even vec_ids, targets = odd). The nn-descent variant of the same
    # contract is rows-only below; its recall vs THIS result is
    # pytest-asserted (test_similarity.test_nn_descent_filtered_recall).
    def _knn_filtered(s, d):
        v = s.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"))
        return cosine_topk(v.where("vec_id % 2 = 1"), k=3,
                           queries=v.where("vec_id % 2 = 0"))

    q["knn_filtered"] = _knn_filtered

    def _knn_filtered_nn_descent(s, d):
        v = s.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"))
        return knn_nn_descent(
            v, k=3, max_iterations=6, seed=42,
            source_ids=v.where("vec_id % 2 = 0").select("vec_id"),
            target_ids=v.where("vec_id % 2 = 1").select("vec_id"))

    q["knn_filtered_nn_descent"] = _knn_filtered_nn_descent
    from graph_data_science_spark.operators.similarity import cosine_topk_ivf
    q["embedding_cosine_topk_ivf"] = lambda s, d: cosine_topk_ivf(
        s.read.parquet(f"{d}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        k=3, n_clusters=8, n_probe=4)
    q["label_propagation_gds_order"] = lambda s, d: label_propagation(
        build_graph(s, d), mode="batch_sequential").labels

    # -- corpus pipeline decisions (round-3 additions) ------------------------
    from graph_data_science_spark.operators.pipeline_ops import (
        corpus_vocabulary, decontaminate, hash_split, near_duplicate_clusters,
        pack_sequences, regex_scan, stratified_sample, tf_idf_top_terms)

    q["near_duplicate_clusters"] = lambda s, d: near_duplicate_clusters(
        _docs(s, d), num_hashes=8, bands=4)
    from graph_data_science_spark.operators.pipeline_ops import bigram_collocations
    q["bigram_collocations"] = lambda s, d: bigram_collocations(
        _docs(s, d), top_k=20, min_count=2)
    q["corpus_vocabulary"] = lambda s, d: corpus_vocabulary(_docs(s, d), min_df=2)
    q["tfidf_top_terms"] = lambda s, d: tf_idf_top_terms(_docs(s, d), k=3)
    q["decontaminate"] = lambda s, d: decontaminate(
        _docs(s, d), shingle_n=3, eval_mod=20)
    q["hash_split"] = lambda s, d: hash_split(_docs(s, d))
    q["pack_sequences"] = lambda s, d: pack_sequences(
        _docs(s, d), max_tokens=64, n_shards=8)
    q["stratified_sample"] = lambda s, d: stratified_sample(
        _docs(s, d), strata_col="lang",
        fractions={"en": 0.5, "de": 0.25}, default_fraction=0.1, seed=77)
    q["regex_scan"] = lambda s, d: regex_scan(
        _docs(s, d), patterns={
            "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
            "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
            "term_table": r"\btable\b",
            "term_fast_or_slow": r"\b(fast|slow)\b",
        })

    # round-3 session-5 additions: segment-level exact dedup (RefinedWeb
    # "line dedup" over fixed 20-token windows) + BM25 retrieval (Lucene
    # idf) — both fully oracled
    from graph_data_science_spark.operators.dedup import segment_dedup
    from graph_data_science_spark.operators.pipeline_ops import bm25_topk

    q["segment_dedup"] = lambda s, d: segment_dedup(_docs(s, d), window=20)
    q["bm25_topk"] = lambda s, d: bm25_topk(
        _docs(s, d), query_terms=["spark", "window", "merge"], top_k=10)

    # round-3 session-8 additions: exact-substring dedup at k-token shingle
    # granularity (Lee et al. 2022 without the suffix array) — maximal
    # duplicated spans + keep-corpus-first removal, both fully oracled
    from graph_data_science_spark.operators.dedup import (
        duplicate_spans, remove_duplicate_spans)

    q["duplicate_spans"] = lambda s, d: duplicate_spans(_docs(s, d), k=8)
    q["remove_duplicate_spans"] = lambda s, d: remove_duplicate_spans(
        _docs(s, d), k=8)

    # round-3 session-8 addition: CCNet-style n-gram LM quality scoring
    # (Stupid Backoff, Brants et al. 2007) — self-trained on the documents
    # table for the oracle; integer micro-nat aggregation makes the mean
    # order-independent (operators/lm.py docstring)
    from graph_data_science_spark.operators.lm import ngram_lm_score

    q["lm_score"] = lambda s, d: ngram_lm_score(_docs(s, d), n=3)

    def _lm_buckets(s, d):
        from graph_data_science_spark.operators.lm import lm_perplexity_buckets
        return lm_perplexity_buckets(_docs(s, d), n_buckets=3)

    q["lm_buckets"] = _lm_buckets

    # round-3 session-5 additions: PII redaction (the action half of
    # regex_scan), deterministic shuffle-shards training-order writer, and
    # two-level-prefix-sum token-budget sampling — all fully oracled
    from graph_data_science_spark.operators.pipeline_ops import (
        regex_redact, shuffle_shards, token_budget_sample)

    q["regex_redact"] = lambda s, d: regex_redact(_docs(s, d))
    q["shuffle_shards"] = lambda s, d: shuffle_shards(_docs(s, d), n_shards=8)
    from graph_data_science_spark.operators.pipeline_ops import (
        prepare_training_data)

    # rows-only composition of four individually-oracled stages (quality
    # filter -> near_duplicate_keep -> decontaminate -> pack + shuffle
    # order); sits outside the 50-slot cap like ivfpq_topk, determinism
    # pytest-pinned
    q["prepare_training_data"] = lambda s, d: prepare_training_data(
        s.read.parquet(f"{d}/documents.parquet"))[0]

    q["token_budget_sample"] = lambda s, d: token_budget_sample(
        _docs(s, d), budget_tokens=5000, n_buckets=16)

    # keep-policy dedup (keep the longest cluster member): composes the
    # GATED near_duplicate_clusters with one argmax agg — fully oracled;
    # sits outside the 50-entry cap (scripts/run_ungated.py + the sf0.001
    # pytest oracle cover it every run)
    from graph_data_science_spark.operators.pipeline_ops import (
        near_duplicate_keep)

    q["near_duplicate_keep"] = lambda s, d: near_duplicate_keep(
        _docs(s, d), priority_col="n_chars", num_hashes=8, bands=4)

    from graph_data_science_spark.operators.pipeline_ops import (
        hashed_ngram_features, quality_classifier)

    q["hashed_features"] = lambda s, d: hashed_ngram_features(
        _docs(s, d), dim=64)

    def _quality_classifier_scores(s, d):
        # weak labels derived deterministically from the table itself
        # (length proxy — the fastText-recipe stand-in); rows-only entry:
        # model training is not SQL-expressible
        docs = _docs(s, d)
        labels = docs.select(
            "doc_id", (F.col("n_chars") >= 150).cast("int").alias("y"))
        _, scored = quality_classifier(docs, labels, dim=32, iterations=10)
        return scored

    q["quality_classifier_scores"] = _quality_classifier_scores

    # -- function surface (gds.similarity.* / gds.alpha.linkprediction.*) ----
    from graph_data_science_spark.functions import (
        cosine as f_cosine,
        euclidean as f_euclidean,
        euclidean_distance as f_edist,
        jaccard as f_jaccard,
        link_prediction_scores,
        overlap as f_overlap,
        pearson as f_pearson,
    )

    def _vec_pairs(s: SparkSession, d: str) -> DataFrame:
        e = s.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v"))
        nxt = e.select((F.col("vec_id") - 1).alias("vec_id"),
                       F.col("v").alias("w"))
        return e.join(nxt, "vec_id")

    from graph_data_science_spark.functions import one_hot_encoding

    def _one_hot_lang(s, d):
        langs = F.array(*[F.lit(x) for x in ("de", "en", "es", "fr", "zh")])
        return _docs(s, d).select(
            "doc_id",
            F.posexplode(
                one_hot_encoding(langs, F.array(F.col("lang")))
            ).alias("pos", "bit"),
        ).select("doc_id", F.col("pos").cast("long").alias("pos"), "bit")

    q["one_hot_lang"] = _one_hot_lang
    q["similarity_functions_vec"] = lambda s, d: _vec_pairs(s, d).select(
        "vec_id",
        F.round(f_cosine("v", "w"), 6).alias("cosine"),
        F.round(f_pearson("v", "w"), 6).alias("pearson"),
        F.round(f_edist("v", "w"), 6).alias("euclidean_distance"),
        F.round(f_euclidean("v", "w"), 6).alias("euclidean"),
    )

    def _wordlen_pairs(s: SparkSession, d: str) -> DataFrame:
        # word-length multisets: numeric vectors with real duplicates, the
        # jaccard/overlap input shape (reference functions take List<Number>)
        docs = _docs(s, d).select(
            "doc_id",
            F.transform(
                F.split(F.regexp_replace(F.lower(F.trim("text")),
                                         r"\s+", " "), " "),
                lambda w: F.length(w).cast("double"),
            ).alias("v"),
        )
        nxt = docs.select((F.col("doc_id") - 1).alias("doc_id"),
                          F.col("v").alias("w"))
        return docs.join(nxt, "doc_id")

    q["similarity_functions_set"] = lambda s, d: _wordlen_pairs(s, d).select(
        "doc_id",
        F.round(f_jaccard("v", "w"), 6).alias("jaccard"),
        F.round(f_overlap("v", "w"), 6).alias("overlap"),
    )

    def _linkpred(s: SparkSession, d: str) -> DataFrame:
        g = build_graph(s, d)
        out = link_prediction_scores(
            g, g.edges.select("src", "dst"), direction="both")
        return (_round(_round(out, "adamic_adar"), "resource_allocation"))

    q["link_prediction"] = _linkpred

    from graph_data_science_spark.ml.splitting import split_relationships

    def _split_rel(s: SparkSession, d: str) -> DataFrame:
        res = split_relationships(
            build_graph(s, d), holdout_fraction=0.2,
            negative_sampling_ratio=0.0, seed=42)
        return res.selected.select(
            "src", "dst", F.lit("holdout").alias("part")
        ).unionByName(res.remaining.select(
            "src", "dst", F.lit("remaining").alias("part")))

    q["split_relationships"] = _split_rel

    # overlapping communities (randomized in the reference → rows-only here)
    from graph_data_science_spark.graph import UNDIRECTED
    from graph_data_science_spark.operators.sllpa import sllpa

    q["sllpa"] = lambda s, d: sllpa(
        build_graph(s, d).oriented(UNDIRECTED), max_iterations=6
    ).communities.select(
        "node_id", F.size("community_ids").alias("n_communities"),
        "community_ids")

    return _gate_order(q)


# Driver-gate rotation: the correctness gate runs the FIRST 50 entries in
# insertion order, so with >50 entries some are never driver-gated.
# STANDING POLICY (applies every round):
# (1) entries whose kernel changed this round, entries NEW this round, and
#     any oracled entry the previous rounds' gates never covered, are
#     pinned FIRST — a changed kernel must never ship on the strength of a
#     stale gate;
# (2) the tail (ungated this round) is drawn ONLY from entries that were
#     driver-gated green in a previous round with unchanged code since —
#     all of which tests/test_entry_oracle.py still value-hashes at every
#     pytest run and the sf0.01 mirror re-proves at gate scale;
# (3) rows-only entries NEVER take gate slots (r04 verdict #5: a hash gate
#     proves only run-without-error there, which pytest already proves) —
#     changed rows-only kernels are instead exercised at gate scale via
#     scripts/run_ungated.py, recorded per round in BENCH/BASELINE.md.
_GATE_FIRST = [
    # ROUND 5 changed kernels (policy 1):
    # centrality.py MSBFS rewrite (per-level scratch streams, exact-count
    # broadcast gating) — every rider of the kernel re-gates
    "betweenness", "closeness", "closeness_wf", "harmonic",
    "all_shortest_paths",
    # influence.py: distributed per-round argmax
    "celf",
    # dedup.py MinHash family modulus 1,000,003 → 2^31−1 (ADVICE r04) —
    # signatures, the band join, and both near-dup recipes built on them
    "minhash_signatures", "minhash_lsh_pairs",
    "near_duplicate_clusters", "near_duplicate_keep",
    # NEW round-5 oracled entries: negative-weight Bellman-Ford distances
    # (ring fixture) and negative-cycle streaming (branch fixture)
    "bellman_ford_negative", "bellman_ford_cycles",
    # oracle SQL changed (fixpoint error() assert added to the refine
    # unroll per ADVICE r04) — the gate runs the oracle, so it re-gates
    "leiden_deterministic",
    # the louvain scratch gained rows_hint (the truncation substrate every
    # scratch loop shares) — louvain local+distributed pair + the
    # single-level variant re-gate as the substrate representatives
    "louvain", "louvain_distributed", "modularity_optimization",
    # embeddings.py restructured (node2vec executor-resident trainer;
    # node2vec itself is rows-only → run_ungated per policy 3) — the
    # file's other kernels re-gate
    "fastrp", "random_walks", "random_walks_biased",
    # plans/pregel.py checkpoint layout now routes through
    # TableFormat.child/list_children — the Pregel-checkpoint users
    # re-gate as representatives
    "pagerank", "wcc", "label_propagation",
    # paths.py gained bellman_ford (appended; existing kernels untouched)
    # — the r04 verdict named astar/dag_longest_path/sssp_delta/hits as
    # the slots to return to value-hashed entries, and the rest of the
    # file's entries ride along
    "astar", "dag_longest_path", "sssp_delta", "hits",
    "dag_topological_sort", "sssp_weighted", "dag_levels", "bfs",
    "shortest_path_dijkstra",
    # longest-ungated oracled entries (last gated r02, kernels untouched
    # since — rotating them back through per policy 2's spirit)
    "triangle_count", "node_similarity", "scc", "graphsage", "hashgnn",
    "k1coloring", "maxkcut",
    "pagerank_weighted", "article_rank", "eigenvector",
    "label_propagation_weighted", "wcc_threshold",
    "degree_out", "degree_in_weighted",
    "triangle_global", "local_clustering_coefficient",
    "exact_duplicates", "collapse_path_2", "scale_minmax",
]
_GATE_LAST = [
    # Everything below was driver-gated green in r03/r04 with kernels
    # untouched this round (policy 2) — still value-hashed by
    # tests/test_entry_oracle.py at every pytest run and by the sf0.01
    # mirror; plus the rows-only entries (policy 3), all run at gate
    # scale by scripts/run_ungated.py each round.
    # r04-gated green, unchanged:
    "embedding_near_duplicates", "knn_filtered", "kmeans",
    "lm_buckets", "duplicate_spans", "remove_duplicate_spans",
    "corpus_vocabulary", "tfidf_top_terms", "decontaminate", "hash_split",
    "pack_sequences", "stratified_sample", "regex_scan", "one_hot_lang",
    "hashed_features", "lm_score", "repetition_stats",
    "pagerank_stats", "wcc_stats",
    "similarity_functions_vec", "similarity_functions_set",
    "link_prediction", "k_core_3", "bigram_collocations",
    "embedding_lsh_pairs", "embedding_lsh_buckets",
    "segment_dedup", "bm25_topk", "regex_redact", "shuffle_shards",
    "token_budget_sample", "pq_codes", "pq_topk",
    "hll_registers_lang", "hll_lang_distinct", "nchars_quantiles",
    # r02/r03-gated green, unchanged kernels (text/event/dedup surfaces):
    "ngram_jaccard_pairs", "simhash", "embedding_cosine_topk",
    "split_relationships", "coreness",
    "events_sessionize", "events_windowed_counts",
    "token_count", "token_count_bpe", "quality_score", "language_id",
    "fingerprint", "modularity_nation", "conductance_nation",
    # rows-only (policy 3) — pytest-pinned, run_ungated at sf0.01:
    "dfs", "yens_k3", "spanning_tree", "sample_cnarw",
    "label_propagation_gds_order", "bpe_token_count", "bpe_encode_ids",
    "sllpa", "quality_classifier_scores", "knn_embeddings",
    "knn_filtered_nn_descent", "embedding_cosine_topk_ivf", "leiden",
    "ivfpq_topk", "prepare_training_data",
]


def _gate_order(q: dict) -> dict:
    first = [k for k in _GATE_FIRST if k in q]
    last = [k for k in _GATE_LAST if k in q]
    mid = [k for k in q if k not in set(first) | set(last)]
    return {k: q[k] for k in first + mid + last}


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    # -- graph algorithms ----------------------------------------------------
    o["pagerank"] = _pagerank_sql(weighted=False)
    o["pagerank_weighted"] = _pagerank_sql(weighted=True)
    o["article_rank"] = _pagerank_sql(weighted=False, degree_shift_sql="SELECT ad FROM avgdeg")
    o["eigenvector"] = _eigenvector_sql(10)
    o["wcc"] = _wcc_sql()
    o["wcc_threshold"] = _wcc_sql(threshold=2.0)
    # stats distributions: quantile_cont == Spark F.percentile (both exact
    # linear interpolation over identical 6dp-rounded inputs); outputs
    # rounded 4dp on both sides, well above ulp noise
    _pcts = ((0.5, "p50"), (0.75, "p75"), (0.9, "p90"), (0.95, "p95"),
             (0.99, "p99"))
    _qc = ", ".join(
        f"ROUND(quantile_cont(score, {p!r}), 4) AS {nm}" for p, nm in _pcts)
    o["pagerank_stats"] = (
        "SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "ROUND(MIN(score), 6) AS min_score, "
        "ROUND(AVG(score), 4) AS mean_score, "
        "ROUND(MAX(score), 6) AS max_score, "
        f"{_qc} FROM ({_pagerank_sql(weighted=False)}) t")
    _qcs = ", ".join(
        f"ROUND(quantile_cont(sz, {p!r}), 4) AS {nm}" for p, nm in _pcts)
    o["wcc_stats"] = (
        f"WITH sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz "
        f"FROM ({_wcc_sql()}) t GROUP BY component) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS community_count, "
        "MIN(sz) AS min_size, ROUND(AVG(sz), 4) AS mean_size, "
        f"MAX(sz) AS max_size, {_qcs} FROM sizes")
    o["label_propagation"] = _lpa_sql(weighted=False)
    o["label_propagation_weighted"] = _lpa_sql(weighted=True)
    o["triangle_count"] = _TRI_COUNT_SQL
    o["triangle_global"] = _TRI_GLOBAL_SQL
    o["local_clustering_coefficient"] = _LCC_SQL

    o["degree_out"] = f"""WITH {EDGES_SQL},
dg AS (SELECT src AS node_id, CAST(COUNT(*) AS DOUBLE) AS score FROM edges GROUP BY src)
SELECT n.node_id, COALESCE(dg.score, 0.0) AS score
FROM nodes n LEFT JOIN dg ON n.node_id = dg.node_id"""

    o["degree_in_weighted"] = f"""WITH {EDGES_SQL},
dg AS (SELECT dst AS node_id, SUM(weight) AS score FROM edges WHERE weight > 0.0 GROUP BY dst)
SELECT n.node_id, COALESCE(dg.score, 0.0) AS score
FROM nodes n LEFT JOIN dg ON n.node_id = dg.node_id"""

    o["node_similarity"] = f"""WITH {EDGES_SQL},
nb AS (SELECT DISTINCT src, dst FROM edges WHERE dst < 2000000),
dg AS (SELECT src, COUNT(*) AS deg FROM nb GROUP BY src),
it AS (SELECT x.src AS node1, y.src AS node2, COUNT(*) AS inter
       FROM nb x JOIN nb y ON x.dst = y.dst AND x.src <> y.src
       GROUP BY x.src, y.src),
sc AS (SELECT i.node1, i.node2,
              ROUND(CAST(i.inter AS DOUBLE) / (d1.deg + d2.deg - i.inter), 6) AS similarity
       FROM it i JOIN dg d1 ON i.node1 = d1.src JOIN dg d2 ON i.node2 = d2.src),
rk AS (SELECT node1, node2, similarity,
              ROW_NUMBER() OVER (PARTITION BY node1 ORDER BY similarity DESC, node2) AS rn
       FROM sc WHERE similarity >= 1e-42)
SELECT node1, node2, similarity FROM rk WHERE rn <= 5"""

    o["hits"] = _hits_sql(20)
    o["louvain"] = _louvain_sql(levels=2, iters=4, classes=2)
    o["leiden_deterministic"] = _louvain_sql(levels=2, iters=4, classes=2,
                                             refine_rounds=12)
    o["louvain_distributed"] = _louvain_sql(levels=2, iters=4, classes=2)
    o["modularity_optimization"] = _louvain_sql(levels=1, iters=4, classes=2)

    o["modularity_nation"] = f"""WITH {EDGES_SQL},{_COMM_SQL},
intra AS (SELECT c_src AS community, SUM(w) AS e_c FROM ec
          WHERE c_src = c_dst GROUP BY c_src),
deg AS (SELECT community, SUM(w) AS k_c FROM (
            SELECT c_src AS community, w FROM ec
            UNION ALL SELECT c_dst, w FROM ec) GROUP BY community)
SELECT d.community,
       ROUND(COALESCE(i.e_c, 0.0) / m.m
             - (d.k_c / (2.0 * m.m)) * (d.k_c / (2.0 * m.m)), 6) AS modularity
FROM deg d LEFT JOIN intra i ON d.community = i.community, mtot m"""

    o["conductance_nation"] = f"""WITH {EDGES_SQL},{_COMM_SQL},
vol AS (SELECT community, SUM(w) AS vol FROM (
            SELECT c_src AS community, w FROM ec
            UNION ALL SELECT c_dst, w FROM ec) GROUP BY community),
tv AS (SELECT SUM(w) * 2 AS total_vol FROM ec),
cut AS (SELECT community, SUM(w) AS cut FROM (
            SELECT c_src AS community, w FROM ec WHERE c_src <> c_dst
            UNION ALL SELECT c_dst, w FROM ec WHERE c_src <> c_dst) GROUP BY community)
SELECT v.community,
       ROUND(CASE WHEN LEAST(v.vol, tv.total_vol - v.vol) > 0
                  THEN COALESCE(c.cut, 0.0) / LEAST(v.vol, tv.total_vol - v.vol)
             END, 6) AS conductance
FROM vol v LEFT JOIN cut c ON v.community = c.community, tv"""

    o["collapse_path_2"] = f"""WITH {EDGES_SQL}
SELECT DISTINCT a.src, b.dst
FROM edges a JOIN edges b ON a.dst = b.src
WHERE a.src <> b.dst"""

    o["betweenness"] = _betweenness_sql()
    o["closeness"] = _closeness_sql()
    o["closeness_wf"] = _closeness_sql(wasserman_faust=True)
    o["harmonic"] = _harmonic_sql()
    o["all_shortest_paths"] = _all_shortest_paths_sql()
    o["shortest_path_dijkstra"] = _dijkstra_sql(source=1)
    o["scc"] = _scc_sql()
    o["fastrp"] = _fastrp_sql()
    o["random_walks"] = _random_walks_sql()
    o["random_walks_biased"] = _random_walks_biased_sql()
    o["kmeans"] = _kmeans_sql()
    o["pq_codes"] = _pq_codes_sql()
    o["pq_topk"] = _pq_topk_sql()
    o["hll_registers_lang"] = _hll_registers_sql()
    o["hll_lang_distinct"] = _hll_distinct_sql()
    o["nchars_quantiles"] = _nchars_quantiles_sql()
    o["k1coloring"] = _k1coloring_sql()
    o["maxkcut"] = _maxkcut_sql()
    o["hashgnn"] = _hashgnn_sql()
    o["graphsage"] = _graphsage_sql()
    o["celf"] = _celf_sql()
    o["bfs"] = _bfs_sql(source=1)
    o["sssp_weighted"] = _bfs_sql(source=1, weighted=True)
    o["sssp_delta"] = _bfs_sql(source=1, weighted=True)
    o["dag_levels"] = _dag_levels_sql()
    # topo rank = ROW_NUMBER over the canonical (level, node_id) order, on
    # the same unrolled level computation
    _dl = _dag_levels_sql()
    o["dag_topological_sort"] = (
        "WITH dl AS (\n" + _dl + "\n)\n"
        "SELECT node_id, CAST(ROW_NUMBER() OVER (ORDER BY level, node_id) - 1 "
        "AS BIGINT) AS topo_rank FROM dl")
    o["astar"] = _astar_sql(source=1)
    o["dag_longest_path"] = _dag_longest_path_sql()
    o["bellman_ford_negative"] = _bellman_ford_negative_sql()
    o["bellman_ford_cycles"] = _BELLMAN_FORD_CYCLES_SQL
    o["k_core_3"] = _kcore_sql(3)
    o["coreness"] = _coreness_sql()

    # -- scalers -----------------------------------------------------------
    o["scale_minmax"] = """
WITH st AS (SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS lo,
                   MAX(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders)
SELECT o_orderkey,
       ROUND(CASE WHEN hi - lo = 0 THEN 0.0
                  ELSE (CAST(o_totalprice AS DOUBLE) - lo) / (hi - lo) END, 6) AS scaled
FROM orders, st"""

    o["events_sessionize"] = """
WITH o AS (
  SELECT event_id, ts, user_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS nw
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, value,
         CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM o)
SELECT user_id, session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS t_start_us,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS t_end_us,
       ROUND(SUM(value), 6) AS total_value
FROM s GROUP BY user_id, session_idx"""

    o["events_windowed_counts"] = """
SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) * 3600000000 AS BIGINT) AS w_start_us,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2"""

    # -- text / dedup --------------------------------------------------------
    o["token_count"] = f"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       END AS n_tokens
FROM documents"""

    o["token_count_bpe"] = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
           AS n_subtokens
FROM documents"""

    o["quality_score"] = """
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces
  FROM documents),
m AS (
  SELECT doc_id, n_chars, n_tokens,
         CASE WHEN n_chars > 0 THEN CAST(alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_chars > 0 THEN CAST(spaces AS DOUBLE) / n_chars ELSE 0.0 END AS space_ratio,
         CASE WHEN n_tokens > 0 THEN (alpha + 0.0) / n_tokens ELSE 0.0 END AS mean_tok,
         CASE WHEN n_chars < 200 THEN n_chars / 200.0
              WHEN n_chars > 8000 THEN GREATEST(0.0, 1 - (n_chars - 8000) / 8000.0)
              ELSE 1.0 END AS len_score
  FROM base),
m2 AS (
  SELECT *, CASE WHEN mean_tok < 3 THEN mean_tok / 3.0
                 WHEN mean_tok > 10 THEN GREATEST(0.0, 1 - (mean_tok - 10) / 10.0)
                 ELSE 1.0 END AS tok_score
  FROM m)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(alpha_ratio, 6) AS alpha_ratio,
       ROUND(space_ratio, 6) AS space_ratio,
       ROUND(mean_tok, 6) AS mean_token_len,
       ROUND(LEAST(1.0, GREATEST(0.0, 0.3 * len_score + 0.4 * alpha_ratio + 0.3 * tok_score)), 6) AS quality
FROM m2"""

    o["language_id"] = """
WITH hits AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS h_de,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a)\\b')) AS h_en,
         len(regexp_extract_all(lower(text), '\\b(el|la|de|que|y)\\b')) AS h_es,
         len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS h_fr
  FROM documents),
b AS (SELECT doc_id, h_de, h_en, h_es, h_fr,
             GREATEST(h_de, h_en, h_es, h_fr) AS best FROM hits)
SELECT doc_id,
       CASE WHEN best = 0 THEN 'und'
            WHEN h_de = best THEN 'de'
            WHEN h_en = best THEN 'en'
            WHEN h_es = best THEN 'es'
            ELSE 'fr' END AS lang_pred,
       CAST(best AS BIGINT) AS lang_hits
FROM b"""

    o["fingerprint"] = f"""
WITH {_shingle_cte(5).strip()}
SELECT doc_id, MIN(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id"""

    # Gopher-style repetition filters; word arrays are 1-indexed in DuckDB
    # (range(1, n) yields i = 1 … n-1 bigram starts)
    o["repetition_stats"] = r"""
WITH w AS (
  SELECT doc_id, trim(text) AS t,
         string_split_regex(trim(text), '\s+') AS ws
  FROM documents),
base AS (
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN 0 ELSE len(ws) END AS n_words,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE ROUND(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
         END AS distinct_word_frac,
         ws
  FROM w),
bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
       FROM base, UNNEST(range(1, n_words)) AS t(i) WHERE n_words >= 2),
bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
bga AS (SELECT doc_id,
               ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
        FROM bgc GROUP BY 1),
g5 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                      || ws[i+3] || ' ' || ws[i+4] AS g
       FROM base, UNNEST(range(1, n_words - 3)) AS t(i) WHERE n_words >= 5),
g5c AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2),
g5a AS (SELECT doc_id,
               ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6)
                   AS dup_5gram_frac
        FROM g5c GROUP BY 1)
SELECT b.doc_id, b.n_words, b.distinct_word_frac,
       COALESCE(a.top_bigram_frac, 0.0) AS top_bigram_frac,
       COALESCE(d.dup_5gram_frac, 0.0) AS dup_5gram_frac
FROM base b LEFT JOIN bga a USING (doc_id) LEFT JOIN g5a d USING (doc_id)"""

    o["exact_duplicates"] = f"""
WITH h AS (SELECT doc_id, md5({_NORM}) AS hh FROM documents),
g AS (SELECT hh, MIN(doc_id) AS canonical_id, CAST(COUNT(*) AS BIGINT) AS group_size
      FROM h GROUP BY hh)
SELECT h.doc_id, g.canonical_id, g.group_size FROM h JOIN g ON h.hh = g.hh"""

    # integer universal family hashed ONCE per shingle (operators/dedup.py
    # minhash_signatures round-4 rewrite): base = md5 hex -> BIGINT mod P,
    # h_k = (a_k*base + b_k) mod P — exact int64 on both engines
    o["minhash_signatures"] = f"""
WITH {_shingle_cte(3).strip()},
mb AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS base FROM sh),
ks AS (SELECT doc_id, base, h FROM mb, (SELECT unnest(range(0, 8)) AS h) hs),
mh AS (SELECT doc_id, h,
              CAST(MIN(((((h+1)*2654435761) % 2147483647) * base
                        + (((h+1)*40503) % 2147483647)) % 2147483647) AS BIGINT)
                  AS minhash
       FROM ks GROUP BY doc_id, h)
SELECT doc_id, CAST(h AS INT) AS h, minhash FROM mh"""

    o["minhash_lsh_pairs"] = f"""
WITH {_shingle_cte(3).strip()},
mb AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS base FROM sh),
ks AS (SELECT doc_id, base, h FROM mb, (SELECT unnest(range(0, 8)) AS h) hs),
mh AS (SELECT doc_id, h,
              CAST(MIN(((((h+1)*2654435761) % 2147483647) * base
                        + (((h+1)*40503) % 2147483647)) % 2147483647) AS BIGINT)
                  AS minhash
       FROM ks GROUP BY doc_id, h),
bh AS (SELECT doc_id, CAST(h // 2 AS INT) AS band,
              md5(string_agg(CAST(h AS VARCHAR) || '=' || CAST(minhash AS VARCHAR), ','
                             ORDER BY CAST(h AS VARCHAR) || '=' || CAST(minhash AS VARCHAR))) AS bhash
       FROM mh GROUP BY doc_id, h // 2)
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bh l JOIN bh r ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id"""

    o["ngram_jaccard_pairs"] = f"""
WITH {_shingle_cte(3).strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id),
j AS (SELECT i.a, i.b,
             ROUND(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 6) AS jaccard
      FROM inter i JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id)
SELECT a, b, jaccard FROM j WHERE jaccard >= 0.2"""

    o["simhash"] = f"""
WITH {_shingle_cte(2).strip()},
hv AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS hv FROM sh),
bits AS (SELECT doc_id, i AS bit,
                CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS vote
         FROM hv, (SELECT unnest(range(0, 32)) AS i) bs),
s AS (SELECT doc_id, bit, SUM(vote) AS sv FROM bits GROUP BY doc_id, bit)
SELECT doc_id,
       CAST(SUM(CASE WHEN sv > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY doc_id"""

    o["embedding_cosine_topk"] = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
r AS (SELECT vec_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM p)
SELECT vec_id, neighbor_id, cosine FROM r WHERE rn <= 3"""

    # filtered exact knn: queries = even ids, candidate index = odd ids
    # (FilteredKnn.java semantics: top-k among allowed targets only)
    o["knn_filtered"] = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (SELECT a.vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
      WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
r AS (SELECT vec_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM p)
SELECT vec_id, neighbor_id, cosine FROM r WHERE rn <= 3"""

    # exact-integer LSH: quantized floor(x*1000) embeddings × hash-derived
    # integer hyperplanes — the bigint dot product is order-independent, so
    # the bucket ids are bit-identical across engines (no float near a sign)
    _LSH_BUCKETS = """
v AS (SELECT vec_id,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS q
  FROM embeddings),
bd AS (SELECT vec_id, q, unnest(range(0, 4)) AS band FROM v),
bk AS (SELECT vec_id, CAST(band AS BIGINT) AS band,
  CAST(list_sum(list_transform(range(0, 4), b ->
    CASE WHEN list_sum(list_transform(range(1, len(q) + 1), d ->
           q[d] * (((band * 4 + b) * 2654435761 + d * 40503) % 1000003
                   - 500001))) > 0
         THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
  FROM bd)"""

    o["embedding_lsh_buckets"] = f"""
WITH {_LSH_BUCKETS.strip()}
SELECT vec_id, band, bucket FROM bk"""

    o["embedding_lsh_pairs"] = f"""
WITH {_LSH_BUCKETS.strip()},
cand AS (SELECT DISTINCT l.vec_id AS doc_a, r.vec_id AS doc_b
         FROM bk l JOIN bk r
           ON l.band = r.band AND l.bucket = r.bucket
          AND l.vec_id < r.vec_id),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (SELECT doc_a, doc_b,
             ROUND(list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM cand JOIN e a ON cand.doc_a = a.vec_id
                JOIN e b ON cand.doc_b = b.vec_id)
SELECT doc_a, doc_b, cosine FROM s WHERE cosine >= 0.3"""

    o["bigram_collocations"] = f"""
WITH w AS (SELECT string_split({_NORM}, ' ') AS ws FROM documents),
uni AS (SELECT unnest(ws) AS t FROM w),
u AS (SELECT t, COUNT(*) AS c FROM uni WHERE t <> '' GROUP BY t),
bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2
       FROM w, UNNEST(range(1, len(ws))) AS r(i)
       WHERE len(ws) >= 2 AND ws[i] <> '' AND ws[i+1] <> ''),
b AS (SELECT w1, w2, COUNT(*) AS pair_count FROM bg GROUP BY w1, w2),
tot AS (SELECT (SELECT SUM(c) FROM u) AS t1,
               (SELECT SUM(pair_count) FROM b) AS t2),
s AS (SELECT b.w1, b.w2, b.pair_count,
             ROUND((CAST(b.pair_count AS DOUBLE) / CAST(t.t2 AS DOUBLE))
                   / ((CAST(ux.c AS DOUBLE) / CAST(t.t1 AS DOUBLE))
                      * (CAST(uy.c AS DOUBLE) / CAST(t.t1 AS DOUBLE))), 6)
                 AS lift
      FROM b JOIN u ux ON b.w1 = ux.t JOIN u uy ON b.w2 = uy.t
      CROSS JOIN tot t
      WHERE b.pair_count >= 2),
rk AS (SELECT w1, w2, pair_count, lift,
              ROW_NUMBER() OVER (ORDER BY lift DESC, w1 ASC, w2 ASC)
                  AS "rank"
       FROM s)
SELECT w1, w2, pair_count, lift, CAST("rank" AS BIGINT) AS "rank"
FROM rk WHERE "rank" <= 20"""

    o["embedding_near_duplicates"] = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             ROUND(list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT doc_a, doc_b, cosine FROM p WHERE cosine >= 0.35"""

    # -- corpus pipeline decisions (round-3 additions) ------------------------
    # near_duplicate_clusters = LSH pairs (identical CTE chain to
    # minhash_lsh_pairs) + unrolled min-label propagation. Rounds needed =
    # diameter of the largest LSH cluster; LSH clusters are band-bucket
    # near-cliques, so 8 rounds carries large margin (empirically the sf0.01
    # pair graph converges in <=3; rounds after convergence are idempotent).
    ndc_rounds = 8
    ndc_parts = [f"""WITH {_shingle_cte(3).strip()},
mb AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS base FROM sh),
ks AS (SELECT doc_id, base, h FROM mb, (SELECT unnest(range(0, 8)) AS h) hs),
mh AS (SELECT doc_id, h,
              CAST(MIN(((((h+1)*2654435761) % 2147483647) * base
                        + (((h+1)*40503) % 2147483647)) % 2147483647) AS BIGINT)
                  AS minhash
       FROM ks GROUP BY doc_id, h),
bh AS (SELECT doc_id, CAST(h // 2 AS INT) AS band,
              md5(string_agg(CAST(h AS VARCHAR) || '=' || CAST(minhash AS VARCHAR), ','
                             ORDER BY CAST(h AS VARCHAR) || '=' || CAST(minhash AS VARCHAR))) AS bhash
       FROM mh GROUP BY doc_id, h // 2),
pr AS MATERIALIZED (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bh l JOIN bh r ON l.band = r.band AND l.bhash = r.bhash
      AND l.doc_id < r.doc_id),
ue AS MATERIALIZED (SELECT a AS src, b AS dst FROM pr
      UNION SELECT b AS src, a AS dst FROM pr),
c0 AS MATERIALIZED (SELECT doc_id AS node_id, doc_id AS component FROM documents),"""]
    for k in range(1, ndc_rounds + 1):
        ndc_parts.append(
            f"c{k} AS MATERIALIZED (SELECT node_id, MIN(component) AS component FROM ("
            f"SELECT node_id, component FROM c{k-1} "
            f"UNION ALL "
            f"SELECT e.dst AS node_id, s.component FROM ue e JOIN c{k-1} s ON e.src = s.node_id"
            f") GROUP BY node_id),")
    o["near_duplicate_clusters"] = (
        "\n".join(ndc_parts).rstrip(",") + "\n"
        f"SELECT node_id AS doc_id, component AS cluster_id, "
        f"node_id <> component AS is_duplicate FROM c{ndc_rounds}")

    # keep-policy dedup: same unrolled WCC, keeper = argmax(n_chars) per
    # component with lowest-doc_id ties — ROW_NUMBER ≡ Spark's
    # max(struct(priority, -doc_id)) election
    o["near_duplicate_keep"] = (
        "\n".join(ndc_parts) + "\n"
        f"""d AS (SELECT c.node_id AS doc_id, c.component AS cluster_id,
           doc.n_chars AS p
    FROM c{ndc_rounds} c JOIN documents doc ON doc.doc_id = c.node_id),
rk AS (SELECT doc_id, cluster_id,
              ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY p DESC, doc_id ASC) AS rn
       FROM d)
SELECT doc_id, cluster_id, rn = 1 AS kept FROM rk""")

    # segment_dedup: 0-based segment i = tokens i*20+1 .. (i+1)*20 (DuckDB
    # lists are 1-indexed, slices clamp like Spark's slice); the keeper of a
    # segment group is min (doc_id, seg_idx) — ROW_NUMBER here ≡ Spark's
    # groupBy-min-struct. No floats anywhere.
    o["segment_dedup"] = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
seg AS (SELECT doc_id, CAST(i AS INT) AS seg_idx,
               array_to_string(ws[(i*20+1):((i+1)*20)], ' ') AS seg
        FROM w, UNNEST(range(0, GREATEST(CAST(ceil(len(ws)/20.0) AS BIGINT), 1)))
             AS r(i)),
fk AS (SELECT doc_id, seg_idx, seg,
              ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx)
                  AS rn
       FROM seg),
ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS segs_kept,
              string_agg(seg, ' ' ORDER BY seg_idx) AS kept_text
       FROM fk WHERE rn = 1 GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS segs_total
        FROM seg GROUP BY doc_id)
SELECT t.doc_id, COALESCE(ka.kept_text, '') AS kept_text, t.segs_total,
       COALESCE(ka.segs_kept, 0) AS segs_kept
FROM tot t LEFT JOIN ka ON t.doc_id = ka.doc_id"""

    # duplicate_spans / remove_duplicate_spans: exact-substring dedup at
    # k=8-token shingle granularity. The oracle groups on the shingle TEXT
    # where Spark groups on md5(shingle) — identical grouping semantics,
    # engine-independent values. Islands rule: positions p, p' merge iff
    # p' <= p + k; keeper = corpus-first (doc_id, pos), expressed here as
    # ROW_NUMBER() = 1 (the segment_dedup keeper idiom).
    _span_p = f"""
w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(ws[(i+1):(i+8)], ' ') AS sh
      FROM (SELECT doc_id, ws FROM w WHERE len(ws) >= 8) AS wf,
           UNNEST(range(0, len(ws) - 8 + 1)) AS r(i))"""
    o["duplicate_spans"] = f"""
WITH {_span_p},
hot AS (SELECT sh FROM p GROUP BY sh HAVING COUNT(*) >= 2),
d AS (SELECT doc_id, pos FROM p JOIN hot USING (sh)),
b AS (SELECT doc_id, pos,
             CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) + 8
                  THEN 1 ELSE 0 END AS brk
      FROM d),
s AS (SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM b)
SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
       CAST(MAX(pos) + 7 AS INT) AS span_end,
       CAST(MAX(pos) + 7 - MIN(pos) + 1 AS INT) AS span_tokens
FROM s GROUP BY doc_id, isl"""

    o["remove_duplicate_spans"] = f"""
WITH {_span_p},
fk AS (SELECT doc_id, pos,
              COUNT(*) OVER (PARTITION BY sh) AS c,
              ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
       FROM p),
d AS (SELECT doc_id, pos FROM fk WHERE c >= 2 AND rn > 1),
b AS (SELECT doc_id, pos,
             CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) + 8
                  THEN 1 ELSE 0 END AS brk
      FROM d),
s AS (SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM b),
spans AS (SELECT doc_id, MIN(pos) AS sp, MAX(pos) + 7 AS ep
          FROM s GROUP BY doc_id, isl),
tok AS (SELECT doc_id, CAST(i AS BIGINT) AS ti, ws[i+1] AS t
        FROM w, UNNEST(range(0, len(ws))) AS r(i)),
cov AS (SELECT t.doc_id, t.ti, t.t FROM tok t
        WHERE NOT EXISTS (SELECT 1 FROM spans sp
                          WHERE sp.doc_id = t.doc_id
                            AND t.ti >= sp.sp AND t.ti <= sp.ep)),
ka AS (SELECT doc_id, string_agg(t, ' ' ORDER BY ti) AS clean_text,
              CAST(COUNT(*) AS BIGINT) AS kept
       FROM cov GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS tokens_total FROM w)
SELECT tot.doc_id, COALESCE(ka.clean_text, '') AS clean_text,
       tot.tokens_total,
       tot.tokens_total - COALESCE(ka.kept, 0) AS tokens_removed
FROM tot LEFT JOIN ka USING (doc_id)"""

    # lm_score: Stupid-Backoff trigram LM, self-trained. Mirrors
    # operators/lm.py expression-for-expression: same operand order in the
    # backoff CASE (0.4 * (CASE ... ELSE 0.4 * uni END)), same add-one
    # unigram floor, and the same per-position integer micro-nat
    # quantization (round(ln(S)*1e6), ties away from zero in BOTH engines)
    # so the per-doc SUM is order-independent. BOS padding = chr(1).
    o["lm_score"] = f"""
WITH w AS (SELECT doc_id, ws
           FROM (SELECT doc_id,
                        list_filter(string_split({_NORM}, ' '),
                                    t -> t <> '') AS ws
                 FROM documents) AS wr
           WHERE len(ws) > 0),
pd AS (SELECT doc_id, list_concat([chr(1), chr(1)], ws) AS p, ws FROM w),
pos AS (SELECT doc_id, CAST(i AS BIGINT) AS i, ws[i+1] AS w,
               p[i+2] AS ctx2,
               p[i+1] || ' ' || p[i+2] AS ctx3
        FROM pd, UNNEST(range(0, len(ws))) AS r(i)),
c1 AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY w),
nt AS (SELECT SUM(c) AS n FROM c1),
c2 AS (SELECT ctx2, w, COUNT(*) AS c FROM pos GROUP BY ctx2, w),
t2 AS (SELECT ctx2, SUM(c) AS t FROM c2 GROUP BY ctx2),
c3 AS (SELECT ctx3, w, COUNT(*) AS c FROM pos GROUP BY ctx3, w),
t3 AS (SELECT ctx3, SUM(c) AS t FROM c3 GROUP BY ctx3),
sc AS (SELECT pos.doc_id,
              CAST(round(ln(
                CASE WHEN c3.c IS NOT NULL
                     THEN CAST(c3.c AS DOUBLE) / CAST(t3.t AS DOUBLE)
                     ELSE 0.4 * (CASE WHEN c2.c IS NOT NULL
                          THEN CAST(c2.c AS DOUBLE) / CAST(t2.t AS DOUBLE)
                          ELSE 0.4 * ((CAST(COALESCE(c1.c, 0) AS DOUBLE)
                                       + 1.0)
                                      / (CAST(nt.n AS DOUBLE) + 1.0)) END)
                END) * 1000000.0) AS BIGINT) AS m
       FROM pos
       LEFT JOIN c1 USING (w)
       LEFT JOIN c2 ON c2.ctx2 = pos.ctx2 AND c2.w = pos.w
       LEFT JOIN t2 ON t2.ctx2 = pos.ctx2
       LEFT JOIN c3 ON c3.ctx3 = pos.ctx3 AND c3.w = pos.w
       LEFT JOIN t3 ON t3.ctx3 = pos.ctx3
       CROSS JOIN nt),
agg AS (SELECT doc_id, SUM(m) AS s, CAST(COUNT(*) AS BIGINT) AS n_scored
        FROM sc GROUP BY doc_id)
SELECT d.doc_id, COALESCE(agg.n_scored, 0) AS n_scored,
       COALESCE(ROUND(CAST(agg.s AS DOUBLE) / agg.n_scored / 1000000.0, 6),
                0.0) AS lm_score
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)"""

    # lm_buckets: CCNet head/middle/tail = exact NTILE(3) over
    # (lm_score DESC, doc_id) on scorable docs. The Spark side computes the
    # same assignment WITHOUT a global sort (two-level rank + integer
    # NTILE boundary arithmetic, SCALE_NOTES §21); the oracle states the
    # one-window semantics directly.
    o["lm_buckets"] = (
        "WITH lm AS (" + o["lm_score"] + ")\n"
        "SELECT doc_id, lm_score,\n"
        "       CAST(NTILE(3) OVER (ORDER BY lm_score DESC, doc_id) AS INT)"
        " AS bucket\n"
        "FROM lm WHERE n_scored > 0")

    # bm25_topk: Lucene idf, k1=1.2 b=0.75, query = {{merge, spark, window}}.
    # Literal arithmetic shapes mirror the Spark expression exactly
    # (1.2 + 1.0 == 2.2 and 1.0 - 0.75 are exact in IEEE, so both engines
    # fold to the same doubles); per-term ROUND 9dp, total ROUND 6dp.
    o["bm25_topk"] = f"""
WITH tk AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t
            FROM documents),
t2 AS (SELECT doc_id, t FROM tk WHERE t <> ''),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t2 GROUP BY doc_id),
c AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
             (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl)
                 / (SELECT COUNT(*) FROM documents) AS avgdl),
tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM t2
       WHERE t IN ('merge', 'spark', 'window') GROUP BY doc_id, t),
dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
idf AS (SELECT dft.t,
               ln(1.0 + (c.n - dft.df + 0.5) / (dft.df + 0.5)) AS idf,
               c.avgdl
        FROM dft, c),
pt AS (SELECT tf.doc_id,
              ROUND(idf.idf * (tf.tf * 2.2)
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / idf.avgdl)),
                    9) AS s
       FROM tf JOIN idf ON tf.t = idf.t JOIN dl ON tf.doc_id = dl.doc_id),
sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS matched_terms,
              ROUND(SUM(s), 6) AS score
       FROM pt GROUP BY doc_id),
rk AS (SELECT doc_id, matched_terms, score,
              ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS "rank"
       FROM sc)
SELECT doc_id, matched_terms, score, CAST("rank" AS BIGINT) AS "rank"
FROM rk WHERE "rank" <= 10"""

    # regex_redact: sequential sorted-name application (digit_run, email,
    # ipv4); each pattern's count is taken on the string state it sees —
    # DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all
    _rx_num, _rx_email, _rx_ip = (
        r"\d{9,}",
        r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
        r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    )
    o["regex_redact"] = f"""
WITH s0 AS (SELECT doc_id, lower(text) AS t0 FROM documents),
s1 AS (SELECT doc_id, t0,
              regexp_replace(t0, '{_rx_num}', '<NUM>', 'g') AS t1 FROM s0),
s2 AS (SELECT doc_id, t0, t1,
              regexp_replace(t1, '{_rx_email}', '<EMAIL>', 'g') AS t2 FROM s1)
SELECT doc_id,
       regexp_replace(t2, '{_rx_ip}', '<IP>', 'g') AS redacted,
       CAST(len(regexp_extract_all(t0, '{_rx_num}', 0))
          + len(regexp_extract_all(t1, '{_rx_email}', 0))
          + len(regexp_extract_all(t2, '{_rx_ip}', 0)) AS BIGINT) AS n_redacted
FROM s2"""

    # shuffle_shards: range-bucketed md5 order key; pos ranks within shard
    o["shuffle_shards"] = f"""
WITH d AS (SELECT doc_id, {_u01_sql("doc_id", "'shuffle'", "42")} AS u
           FROM documents)
SELECT doc_id, CAST(floor(u * 8) AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY floor(u * 8)
                               ORDER BY u ASC, doc_id ASC) AS BIGINT) AS pos
FROM d"""

    # token_budget_sample: the oracle is the single global exclusive
    # cumulative sum the two-level bucket-prefix plan must equal exactly
    o["token_budget_sample"] = f"""
WITH d AS (SELECT doc_id,
                  CAST(len(list_filter(string_split({_NORM}, ' '),
                                       t -> t <> '')) AS BIGINT) AS n_tokens,
                  {_u01_sql("doc_id", "'budget'", "42")} AS u
           FROM documents)
SELECT doc_id, n_tokens,
       (COALESCE(SUM(n_tokens) OVER (ORDER BY u ASC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        < 5000) AS kept
FROM d"""

    o["corpus_vocabulary"] = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
t AS (SELECT doc_id, unnest(ws) AS token FROM w)
SELECT token, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS term_freq
FROM t WHERE token <> '' GROUP BY token HAVING COUNT(DISTINCT doc_id) >= 2"""

    o["tfidf_top_terms"] = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
t AS (SELECT doc_id, unnest(ws) AS token FROM w),
t2 AS (SELECT doc_id, token FROM t WHERE token <> ''),
tf AS (SELECT doc_id, token, COUNT(*) AS tc FROM t2 GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM t2 GROUP BY doc_id),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
sc AS (SELECT tf.doc_id, tf.token,
              ROUND((CAST(tf.tc AS DOUBLE) / dl.dl)
                    * (ln((nd.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
       FROM tf JOIN dl ON tf.doc_id = dl.doc_id
               JOIN df ON tf.token = df.token, nd),
rk AS (SELECT doc_id, token, tfidf,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, token ASC) AS "rank"
       FROM sc)
SELECT doc_id, token, tfidf, CAST("rank" AS BIGINT) AS "rank"
FROM rk WHERE "rank" <= 3"""

    o["decontaminate"] = f"""
WITH {_shingle_cte(3).strip()},
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
hits AS (SELECT tr.doc_id, COUNT(*) AS n_overlap
         FROM tr JOIN ev ON tr.shingle = ev.shingle GROUP BY tr.doc_id)
SELECT d.doc_id, CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(h.n_overlap, 0) >= 1 AS contaminated
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 20 <> 0) d
LEFT JOIN hits h ON d.doc_id = h.doc_id"""

    # hash_split boundaries use the Python-double values (train, train+val)
    # verbatim so the CASE thresholds are bit-identical to the engine's
    o["hash_split"] = f"""
SELECT doc_id,
       CASE WHEN {_u01_sql("doc_id", "'split'", "42")} < {0.8!r} THEN 'train'
            WHEN {_u01_sql("doc_id", "'split'", "42")} < {(0.8 + 0.1)!r} THEN 'val'
            ELSE 'test' END AS split
FROM documents"""

    # pack_sequences: same sharded pack-and-chop arithmetic; DuckDB range()
    # is half-open so the span upper bound is last_seq + 1; integer division
    # via // matches Spark's floor() on non-negative offsets
    o["pack_sequences"] = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
t AS (SELECT doc_id, unnest(ws) AS token FROM w),
tc AS (SELECT doc_id, COUNT(*) AS tc FROM t WHERE token <> '' GROUP BY doc_id),
d AS (SELECT doc_id, doc_id % 8 AS shard, tc,
             CAST(COALESCE(SUM(tc) OVER (PARTITION BY doc_id % 8
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS off
      FROM tc),
e AS (SELECT doc_id, shard, tc, off,
             unnest(range(off // 64, (off + tc - 1) // 64 + 1)) AS seq_in_shard
      FROM d)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(seq_in_shard AS BIGINT) AS seq_in_shard,
       CAST(LEAST(off + tc, (seq_in_shard + 1) * 64)
            - GREATEST(off, seq_in_shard * 64) AS BIGINT) AS n_tokens
FROM e"""

    # stratified_sample: the engine's when-chain folds fractions in sorted
    # key order; thresholds are Python-double reprs for bit-identity
    o["stratified_sample"] = f"""
SELECT doc_id, lang AS stratum,
       {_u01_sql("doc_id", "lang", "77")} <
         CASE WHEN lang = 'en' THEN {0.5!r}
              WHEN lang = 'de' THEN {0.25!r}
              ELSE {0.1!r} END AS sampled
FROM documents"""

    # hashed_ngram_features: the hashing-trick slot is the same md5
    # top-60-bit integer as _u01_sql, taken mod dim (both engines compute
    # a positive < 2^60 value, so % agrees)
    o["hashed_features"] = f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents),
t AS (SELECT doc_id, unnest(ws) AS token FROM w)
SELECT doc_id,
       CAST(CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) % 64
            AS BIGINT) AS slot,
       COUNT(*) AS cnt
FROM t WHERE token <> '' GROUP BY doc_id, slot"""

    # regex_scan: the four patterns avoid Java-vs-RE2 divergent syntax;
    # both engines count non-overlapping leftmost matches of group 0
    o["regex_scan"] = r"""
WITH p AS (SELECT * FROM (VALUES
    ('email', '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'),
    ('ipv4', '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'),
    ('term_table', '\btable\b'),
    ('term_fast_or_slow', '\b(fast|slow)\b')) AS v(pattern, rx))
SELECT d.doc_id, p.pattern,
       CAST(len(regexp_extract_all(lower(d.text), p.rx, 0)) AS BIGINT)
         AS n_matches
FROM documents d CROSS JOIN p"""

    # one_hot_encoding (OneHotEncodingFunc.java): 1 at indices whose
    # available value is selected; exploded long format avoids cross-engine
    # array-repr divergence in the value hash
    o["one_hot_lang"] = """
WITH av AS (SELECT * FROM (VALUES
    ('de', 0), ('en', 1), ('es', 2), ('fr', 3), ('zh', 4)) v(val, pos))
SELECT d.doc_id, CAST(av.pos AS BIGINT) AS pos,
       CAST(av.val = d.lang AS BIGINT) AS bit
FROM documents d CROSS JOIN av"""

    # -- function surface (gds.similarity.* / gds.alpha.linkprediction.*) ----
    # element-wise list arithmetic: DuckDB list_zip yields unnamed structs,
    # indexed numerically (1-based); lambdas capture row columns. Both
    # engines fold in double after an exact float→double cast; 6dp rounding
    # sits far above the ~1e-15 reassociation noise of 64-element sums.
    o["similarity_functions_vec"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT a.vec_id, a.v AS v, b.v AS w
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
c AS (SELECT vec_id, v, w,
             list_sum(v) / len(v) AS mv, list_sum(w) / len(w) AS mw
      FROM p),
d AS (SELECT vec_id,
    list_sum(list_transform(list_zip(v, w), x -> x[1] * x[2])) AS dot,
    list_sum(list_transform(v, x -> x * x)) AS nv,
    list_sum(list_transform(w, x -> x * x)) AS nw,
    list_sum(list_transform(list_zip(v, w),
                            x -> (x[1] - mv) * (x[2] - mw))) AS cov,
    list_sum(list_transform(v, x -> (x - mv) * (x - mv))) AS vv,
    list_sum(list_transform(w, x -> (x - mw) * (x - mw))) AS ww,
    list_sum(list_transform(list_zip(v, w),
                            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS sq
 FROM c)
SELECT vec_id,
    ROUND(dot / sqrt(nv * nw), 6) AS cosine,
    ROUND(CASE WHEN vv * ww = 0 THEN 0.0 ELSE cov / sqrt(vv * ww) END,
          6) AS pearson,
    ROUND(sqrt(sq), 6) AS euclidean_distance,
    ROUND(1.0 / (1.0 + sqrt(sq)), 6) AS euclidean
FROM d"""

    # multiset jaccard + set overlap over word-length vectors (numeric
    # multisets with real duplicates); same tokenization as dedup._norm
    o["similarity_functions_set"] = f"""
WITH wl AS (SELECT doc_id,
       list_transform(string_split({_NORM}, ' '),
                      x -> CAST(len(x) AS DOUBLE)) AS v
     FROM documents),
p AS (SELECT a.doc_id, a.v AS v, b.v AS w
      FROM wl a JOIN wl b ON b.doc_id = a.doc_id + 1),
j AS (SELECT doc_id,
    COALESCE(list_sum(list_transform(
        list_distinct(list_concat(v, w)),
        u -> least(len(list_filter(v, x -> x = u)),
                   len(list_filter(w, x -> x = u))))), 0) AS inter,
    len(v) + len(w) AS tot,
    len(list_intersect(v, w)) AS sinter,
    least(len(v), len(w)) AS mn
 FROM p)
SELECT doc_id,
    ROUND(CASE WHEN tot - inter = 0 THEN 1.0
               ELSE CAST(inter AS DOUBLE) / (tot - inter) END, 6) AS jaccard,
    ROUND(CASE WHEN mn = 0 THEN 0.0
               ELSE CAST(sinter AS DOUBLE) / mn END, 6) AS overlap
FROM j"""

    # linkprediction.* over every edge pair of the link graph, direction
    # BOTH: N(v) = distinct non-self neighbors; deg = relationship count
    # (out incl. loops once + in excl. loops)
    o["link_prediction"] = f"""
WITH {EDGES_SQL},
e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
nbrs AS (SELECT src AS node, dst AS nbr FROM e
         UNION
         SELECT dst AS node, src AS nbr FROM e),
deg AS (SELECT node, SUM(c) AS deg FROM (
            SELECT src AS node, COUNT(*) AS c FROM edges GROUP BY src
            UNION ALL
            SELECT dst AS node, COUNT(*) AS c FROM edges
            WHERE src <> dst GROUP BY dst) t
        GROUP BY node),
nsz AS (SELECT node, COUNT(*) AS n FROM nbrs GROUP BY node),
p AS (SELECT DISTINCT src, dst FROM edges),
cn AS (SELECT p.src, p.dst, COUNT(*) AS common,
              SUM(1.0 / ln(d.deg)) AS aa, SUM(1.0 / d.deg) AS ra
       FROM p
       JOIN nbrs a ON a.node = p.src
       JOIN nbrs b ON b.node = p.dst AND b.nbr = a.nbr
       JOIN deg d ON d.node = a.nbr
       WHERE p.src <> p.dst
       GROUP BY p.src, p.dst)
SELECT p.src, p.dst,
    CAST(COALESCE(cn.common, 0) AS DOUBLE) AS common_neighbors,
    ROUND(COALESCE(cn.aa, 0.0), 6) AS adamic_adar,
    ROUND(COALESCE(cn.ra, 0.0), 6) AS resource_allocation,
    CAST(COALESCE(ds.deg, 0) * COALESCE(dd.deg, 0) AS DOUBLE)
        AS preferential_attachment,
    CAST(COALESCE(ns.n, 0) + COALESCE(nd.n, 0) - COALESCE(cn.common, 0)
         AS DOUBLE) AS total_neighbors
FROM p
LEFT JOIN cn ON cn.src = p.src AND cn.dst = p.dst
LEFT JOIN deg ds ON ds.node = p.src
LEFT JOIN deg dd ON dd.node = p.dst
LEFT JOIN nsz ns ON ns.node = p.src
LEFT JOIN nsz nd ON nd.node = p.dst"""

    # splitRelationships: the holdout/remaining partition is the same
    # md5-u01 Bernoulli draw as hash_split, keyed on the edge
    o["split_relationships"] = f"""
WITH {EDGES_SQL}
SELECT src, dst,
       CASE WHEN {_u01_sql("src", "dst", "'holdout'", "42")} < 0.2
            THEN 'holdout' ELSE 'remaining' END AS part
FROM edges"""

    return o
