"""Louvain / Leiden / modularity optimization — community detection by
modularity-ascent local moving + graph coarsening.

Reference semantics:
- ``gds.louvain`` — algo/src/main/java/org/neo4j/gds/louvain/Louvain.java:49
  (levels of ModularityOptimization + graph aggregation).
- ``gds.beta.modularityOptimization`` — algo/.../modularityoptimization/
  ModularityOptimization.java:63, which implements Lu–Halappanavar–
  Kalyanaraman "Parallel heuristics for scalable community detection"
  (Parallel Computing 47, 2015): nodes are partitioned into color classes
  and each class moves SYNCHRONOUSLY against the previous assignment.
- ``gds.leiden`` — algo/.../leiden/Leiden.java:42 (local moving +
  refinement + aggregation; refinement guarantees connected communities).

Determinism contract (this engine's divergence from GDS, documented): GDS's
parallel local moving is concurrency-dependent (its own docs say results
vary run to run). Here the move schedule is FIXED — nodes move in
``classes`` round-robin id classes (``node_id % classes``), each sub-round
synchronous against the previous assignment — so results are bit-identical
at any parallelism AND expressible as an unrolled SQL recurrence, which is
what the DuckDB value-hash oracle checks. The reference's color classes play
the same role (sync within a class); fixed id classes trade a little move
quality for reproducibility.

Move rule (standard Louvain gain, resolution γ=1): for node v with weighted
degree k_v, candidate community C (any neighbor community or its own),

    score(C) = k_{v,C} − k_v · (vol(C) − [v ∈ C]·k_v) / (2m)

rounded to 6dp (the cross-engine float contract; on integer-weighted graphs
every operand is exact so both engines agree bit-for-bit). v moves to the
argmax (ties → smaller community id) iff that strictly beats its current
community's score. A level converges when a full pass moves nobody; the
graph is then coarsened (communities → supernodes, ALL adjacency weights
summed — the row-sum convention below makes this one groupBy) and the next
level runs on the coarse graph. Community labels are relabeled to the
minimum ORIGINAL member node id after every level, so final ids are stable,
meaningful, and portable.

Adjacency convention: ``adj`` holds each u≠v edge twice (both directions)
and each self-loop ONCE with doubled weight, so that
``k_u = Σ w over rows with src=u`` and coarsening = one groupBy-sum.
``m = Σ_all w / 2`` is invariant across levels.

Spark plan per sub-round: volumes = one partial-agg sum over the assignment;
candidate tallies = adj ⋈ assignment (shuffle-hash on the state side) + one
partial-agg sum; argmax per node = one more partial-agg max(struct) — no
windows, no Python in the loop. Truncation goes through the size-gated
``Scratch`` of plans/loop_state.py (the Pregel driver's truncation): after
every sub-round with AQE on, or — in the ``"parquet"`` tier, AQE off — once
per iteration, the iteration's sub-rounds running as one lazy plan (see
_local_move).

Size policy: each level asks the engine's one policy,
``loop_state.tier``, about its UNDIRECTED edge count (half the mirrored
adjacency rows the scratch truncate observed) and its supernode count. Both
``"local"`` → the remaining levels finish on the driver (``_local_solve``,
bit-identical); the edge count's ``"parquet"`` tier turns AQE off for the
level's chained sub-rounds. This is the standard two-phase design of every
distributed Louvain (and what the single-node reference IS): level 0 on a
100 TB graph stays fully distributed, but each coarsening shrinks the
supernode graph by orders of magnitude, and once it fits the driver the
fixed sub-round schedule is pure per-job scheduling floor.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Observation, functions as F

from graph_data_science_spark.graph import Graph
from graph_data_science_spark.operators.wcc import wcc
from graph_data_science_spark.plans.loop_state import Scratch, tier
from graph_data_science_spark.plans.partitioning import shuffle_hash


@dataclass
class CommunityResult:
    communities: DataFrame  # (node_id, community)
    modularity: float
    ran_levels: int
    ran_iterations: int
    converged: bool


def _adjacency(graph: Graph, weighted: bool = True) -> DataFrame:
    """Mirrored adjacency with the row-sum degree convention (module doc)."""
    e = graph.edges
    w = (F.col("weight").cast("double") if weighted and "weight" in e.columns
         else F.lit(1.0))
    e = e.select("src", "dst", w.alias("w"))
    nonloop = e.where(F.col("src") != F.col("dst"))
    mirrored = nonloop.unionByName(
        nonloop.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    loops = e.where(F.col("src") == F.col("dst")).select(
        "src", "dst", (F.col("w") * 2.0).alias("w"))
    return mirrored.unionByName(loops).groupBy("src", "dst").agg(
        F.sum("w").alias("w"))


def _sub_round(adj: DataFrame, comm: DataFrame, k: DataFrame, m: float,
               p: int, n_classes: int,
               gamma: float = 1.0) -> DataFrame:
    """One synchronous move pass for class ``node_id % n_classes == p``,
    as a LAZY plan: ``comm`` (node_id, comm, _mvd) → same schema, with
    ``_mvd`` ORed with this pass's per-node moved bit. ``gamma`` is the
    Leiden resolution (LeidenBaseConfig.java:38; γ=1 = classic modularity):
    it scales the expected-edges term of the gain.

    In the ``"parquet"`` tier the caller chains an iteration's sub-rounds and
    truncates/observes at its end (plans/pregel.py fusion). Chaining is
    safe because each reference to the previous sub-round's output
    re-executes only its post-shuffle map work — the aggregations below it
    end in identical exchanges that Spark's ReuseExchange dedupes — and the
    reference count per level (~5) keeps Catalyst's tree-walk cost bounded
    for one-iteration blocks (see _local_move)."""
    vol = (comm.join(k, "node_id")
           .groupBy("comm").agg(F.sum("k").alias("vol")))
    movers = comm.where(F.pmod(F.col("node_id"), F.lit(n_classes)) == p)

    c_of = shuffle_hash(comm.select(F.col("node_id").alias("dst"),
                                    F.col("comm").alias("C")))
    kuc = (
        adj.where(F.col("src") != F.col("dst"))
        .where(F.pmod(F.col("src"), F.lit(n_classes)) == p)
        .join(c_of, "dst")
        .groupBy("src", "C").agg(F.sum("w").alias("kuc"))
    )
    # the current community is always a candidate (k_{v,cur} may be 0)
    cur0 = movers.select(F.col("node_id").alias("src"),
                         F.col("comm").alias("C"), F.lit(0.0).alias("kuc"))
    cand = kuc.unionByName(cur0).groupBy("src", "C").agg(
        F.sum("kuc").alias("kuc"))

    scored = (
        cand.join(movers.select(F.col("node_id").alias("src"),
                                F.col("comm").alias("cur")), "src")
        .join(vol.withColumnRenamed("comm", "C"), "C")
        .join(k.withColumnRenamed("node_id", "src"), "src")
    )
    own = F.when(F.col("C") == F.col("cur"), F.col("k")).otherwise(F.lit(0.0))
    s = F.round(F.col("kuc")
                - F.lit(float(gamma)) * F.col("k") * (F.col("vol") - own) / (2.0 * m), 6)
    best = (
        scored.select("src", "cur", "C", s.alias("s"))
        .groupBy("src", "cur")
        .agg(
            F.max(F.struct(F.col("s"), (-F.col("C")).alias("negC"),
                           F.col("C").alias("C"))).alias("b"),
            F.max(F.when(F.col("C") == F.col("cur"), F.col("s"))).alias("cur_s"),
        )
    )
    upd = best.select(
        F.col("src").alias("node_id"),
        F.when(F.col("b.s") > F.col("cur_s"), F.col("b.C"))
        .otherwise(F.col("cur")).alias("_new"),
    )
    return comm.join(shuffle_hash(upd), "node_id", "left").select(
        "node_id",
        F.coalesce(F.col("_new"), F.col("comm")).alias("comm"),
        F.greatest(
            F.col("_mvd"),
            (F.coalesce(F.col("_new"), F.col("comm")) != F.col("comm"))
            .cast("int")).alias("_mvd"),
    )


def _local_move(adj, sup_nodes, k, m, max_iterations, n_classes, scratch,
                gamma: float = 1.0):
    """Run class-restricted sync local moving to convergence on one level.
    Returns (assignment, total_moves, iterations_ran, converged).

    One schedule: each iteration chains its ``n_classes`` sub-rounds, the
    per-node moved bit ``_mvd`` accumulating through them, and observes
    ``sum(_mvd)`` once, at the iteration's final truncate. A node moves only
    in its own class's sub-round, so that sum is the iteration's move count;
    a level converges when an iteration moves nobody (a strict improvement
    rule makes that assignment a fixpoint).

    Where the sub-rounds are truncated follows the AQE toggle, which the
    caller sets from the level's size tier (docs/SCALE_NOTES.md §10): with
    AQE on every sub-round is truncated, because AQE defeats the
    ReuseExchange dedup that makes chained sub-rounds cheap and a chained
    sub-round would replay its predecessor's exchanges ~5× (measured r2:
    26.6 s per-sub-round vs 31.8–35.7 s chained at 600k edges); with AQE
    off the iteration's sub-rounds run as ONE lazy plan, truncated once,
    dividing the per-sub-round job barrier + scratch round-trip by
    ``n_classes``. Blocks stay one iteration: each sub-round references its
    predecessor ~5×, so Catalyst's tree walk grows ~5^depth."""
    comm = sup_nodes.select("node_id", F.col("node_id").alias("comm"))
    comm = scratch.truncate(comm, "comm", rows_hint=scratch.rows("k"))
    total = 0
    it = 0
    moves = 0
    while it < max_iterations:
        new = comm.select("node_id", "comm", F.lit(0).cast("int").alias("_mvd"))
        for p in range(n_classes):
            if p and not scratch.aqe_off:
                new = scratch.truncate(new, "comm")
            new = _sub_round(adj, new, k, m, p, n_classes, gamma)
        obs = Observation()
        new = new.observe(obs, F.sum("_mvd").alias("moves"))
        new = scratch.truncate(new, "comm")
        moves = int(obs.get["moves"] or 0)
        comm = new.select("node_id", "comm")
        total += moves
        it += 1
        if moves == 0:
            break
    # converged = the LAST iteration moved nothing (fixpoint reached),
    # whether the loop broke early or landed exactly on the iteration cap
    return comm, total, it, moves == 0


def _relabel_min_member(comm: DataFrame) -> DataFrame:
    lab = comm.groupBy("comm").agg(F.min("node_id").alias("_new"))
    return comm.join(lab, "comm").select(
        "node_id", F.col("_new").alias("comm"))


def _coarsen(adj: DataFrame, comm: DataFrame) -> DataFrame:
    cu = comm.select(F.col("node_id").alias("src"), F.col("comm").alias("cs"))
    cv = comm.select(F.col("node_id").alias("dst"), F.col("comm").alias("cd"))
    return (
        adj.join(cu, "src").join(cv, "dst")
        .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )


def _degrees(adj: DataFrame, sup_nodes: DataFrame) -> DataFrame:
    k = adj.groupBy(F.col("src").alias("node_id")).agg(F.sum("w").alias("k"))
    return sup_nodes.join(k, "node_id", "left").select(
        "node_id", F.coalesce("k", F.lit(0.0)).alias("k"))


def _modularity_value(adj: DataFrame, comm: DataFrame, m: float,
                      gamma: float = 1.0) -> float:
    """Q_γ = Σ_C [ intra_rowsum(C)/(2m) − γ·(vol(C)/(2m))² ] on the row-sum
    convention (intra_rowsum already counts each internal edge twice);
    γ=1 is classic modularity."""
    cu = comm.select(F.col("node_id").alias("src"), F.col("comm").alias("cs"))
    cv = comm.select(F.col("node_id").alias("dst"), F.col("comm").alias("cd"))
    tagged = adj.join(cu, "src").join(cv, "dst")
    intra = (tagged.where(F.col("cs") == F.col("cd"))
             .groupBy("cs").agg(F.sum("w").alias("i")))
    vol = tagged.groupBy("cs").agg(F.sum("w").alias("vol"))
    parts = vol.join(intra, "cs", "left").select(
        (F.coalesce("i", F.lit(0.0)) / (2.0 * m)
         - F.lit(float(gamma))
         * (F.col("vol") / (2.0 * m)) * (F.col("vol") / (2.0 * m))).alias("q"))
    return float(parts.agg(F.sum("q")).first()[0] or 0.0)


def _refine_connectivity(adj: DataFrame, comm: DataFrame) -> DataFrame:
    """Leiden refinement, reduced to its deterministic core: split every
    community into the connected components of its induced subgraph — the
    engine's :func:`~graph_data_science_spark.operators.wcc.wcc` over the
    intra-community edges, each community's split labelled by its minimum
    member id. WCC is capped at the intra-community edge count + 1 (one
    count job per level): a component's diameter is below its edge count,
    so the cap provably converges and no long community is split by the
    cap. Guarantees the property Leiden
    exists to restore — no disconnected communities
    (Traag/Waltman/van Eck 2019 §2; leiden/Leiden.java refinement phase) —
    while staying deterministic (no random θ sampling)."""
    cu = comm.select(F.col("node_id").alias("src"), F.col("comm").alias("cs"))
    cv = comm.select(F.col("node_id").alias("dst"), F.col("comm").alias("cd"))
    # adj is mirrored and wcc mirrors again: one direction suffices
    intra = (adj.where(F.col("src") < F.col("dst"))
             .join(cu, "src").join(cv, "dst")
             .where(F.col("cs") == F.col("cd"))
             .select("src", "dst"))
    split = wcc(Graph(nodes=comm.select("node_id"), edges=intra),
                max_iterations=intra.count() + 1)
    return split.components.select(
        "node_id", F.col("component").alias("comm"))


def _theta_refine(adj: DataFrame, orig: DataFrame, k: DataFrame, m: float,
                  gamma: float, theta: float, seed: int,
                  scratch: Scratch, rounds: int = 3) -> DataFrame:
    """θ-randomized Leiden refinement (Leiden.java:189 RefinementPhase,
    θ default LeidenBaseConfig.java:43), reduced to a bounded distributed
    pass: fragments start as SINGLETONS inside each local-move community
    and repeatedly merge along intra-community edges.

    Per round, for adjacent fragments r, r' of the same original community:
    gain(r→r') = e(r,r')/(2m) − γ·vol(r)·vol(r')/(2m)² (the CPM/modularity
    merge delta). Each fragment picks a positive-gain target drawn
    ∝ exp(gain/θ) via the Gumbel-max trick over the hash-u01 stream —
    deterministic per ``seed`` (the reference takes randomSeed), emulating
    the reference's randomized-refinement distribution without
    run-to-run nondeterminism. Merges apply only "uphill" (into strictly
    larger volume, ties → smaller id), so each round's merge relation is
    acyclic. Every merge follows an edge, so every produced fragment is
    CONNECTED — the invariant Leiden refinement exists to restore — and
    fragments never cross local-move community boundaries.

    The result is a partition finer than (or equal to) the local-move
    partition, as in the reference; subsequent levels' local moving
    re-merges fragments when γ-modularity favors it. Merges require
    positive gain, so the pass never degrades γ-modularity below the
    singleton-refined start."""
    from graph_data_science_spark.operators.embeddings import _u01

    o_src = orig.select(F.col("node_id").alias("src"), F.col("comm").alias("_o1"))
    o_dst = orig.select(F.col("node_id").alias("dst"), F.col("comm").alias("_o2"))
    intra = (adj.where(F.col("src") != F.col("dst"))
             .join(o_src, "src").join(o_dst, "dst")
             .where(F.col("_o1") == F.col("_o2"))
             .select("src", "dst", "w"))
    intra = scratch.truncate(intra, "th_intra")

    comm = orig.select("node_id", F.col("node_id").alias("comm"))
    comm = scratch.truncate(comm, "th_comm")
    for rnd in range(int(rounds)):
        c_r = comm.select(F.col("node_id").alias("src"), F.col("comm").alias("r"))
        c_r2 = comm.select(F.col("node_id").alias("dst"), F.col("comm").alias("r2"))
        vol = (comm.join(k, "node_id").groupBy("comm")
               .agg(F.sum("k").alias("vol")))
        e_rr = (intra.join(c_r, "src").join(c_r2, "dst")
                .where(F.col("r") != F.col("r2"))
                .groupBy("r", "r2").agg(F.sum("w").alias("e")))
        cand = (e_rr
                .join(vol.select(F.col("comm").alias("r"),
                                 F.col("vol").alias("vr")), "r")
                .join(vol.select(F.col("comm").alias("r2"),
                                 F.col("vol").alias("vr2")), "r2"))
        gain = (F.col("e") / (2.0 * m)
                - F.lit(float(gamma)) * F.col("vr") * F.col("vr2")
                / ((2.0 * m) * (2.0 * m)))
        uphill = ((F.col("vr2") > F.col("vr"))
                  | ((F.col("vr2") == F.col("vr")) & (F.col("r2") < F.col("r"))))
        u = _u01(F.col("r"), F.col("r2"), F.lit("theta"), F.lit(rnd),
                 F.lit(int(seed)))
        gumbel = -F.log(-F.log(
            F.greatest(F.lit(1e-12), F.least(u, F.lit(1.0 - 1e-12)))))
        scored = (cand.where(uphill)
                  .select("r", "r2", gain.alias("g"),
                          (gain / F.lit(float(theta)) + gumbel).alias("pri"))
                  .where(F.col("g") > 0.0))
        pick = (scored.groupBy("r")
                .agg(F.max(F.struct(F.col("pri"), (-F.col("r2")).alias("n2"),
                                    F.col("r2").alias("tgt"))).alias("b"))
                .select(F.col("r").alias("comm"), F.col("b.tgt").alias("tgt")))
        obs = Observation()
        merged = comm.join(pick, "comm", "left").select(
            "node_id", F.coalesce("tgt", "comm").alias("comm"),
            F.col("tgt").isNotNull().cast("int").alias("_mg"))
        merged = merged.observe(obs, F.sum("_mg").alias("mg"))
        merged = scratch.truncate(merged, "th_comm")
        moved = obs.get["mg"] or 0
        comm = merged.select("node_id", "comm")
        if moved == 0:
            break
    return scratch.truncate(_relabel_min_member(comm), "th_out")


def modularity_optimization(
    graph: Graph,
    max_iterations: int = 10,
    n_classes: int = 2,
    weighted: bool = True,
) -> CommunityResult:
    """``gds.beta.modularityOptimization`` analog: ONE level of local moving
    (no coarsening) → (node_id, community), community = min member id —
    the Louvain level loop capped at one level. One level is reported even
    on an edgeless graph, where Louvain reports none."""
    res = _multilevel(graph, 1, max_iterations, n_classes, weighted,
                      refine=False)
    return replace(res, ran_levels=1)


def _round6_half_up(v):
    """Bit-parity replica of Spark's ``F.round(col, 6)`` on doubles
    (HALF_UP on the shortest-decimal expansion, java.math.BigDecimal).
    Vectorized floor(|x|·1e6 + 0.5) fast path; values within float error
    of a .5 decimal boundary re-rounded exactly via ``decimal`` on the
    shortest repr (Python ``repr`` = Double.toString's shortest-roundtrip
    contract)."""
    import numpy as np
    scaled = v * 1e6
    a = np.abs(scaled)
    r = np.sign(scaled) * np.floor(a + 0.5) / 1e6
    frac = np.abs(a - np.floor(a) - 0.5)
    near = frac <= np.maximum(1e-9, 8.0 * np.spacing(a))
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal
        q = Decimal("1e-6")
        idx = np.nonzero(near)[0]
        for i in idx:
            r[i] = float(Decimal(repr(float(v[i])))
                         .quantize(q, ROUND_HALF_UP))
    return r


def _local_solve(src, dst, w, ids, m, max_levels, max_iterations,
                 n_classes, gamma):
    """Driver-side replica of the distributed level loop (the
    ``_local_move`` schedule + ``_relabel_min_member`` + ``_coarsen``),
    bit-identical on integer-weight graphs (module docstring: the 6dp
    rounding contract makes every score operand exact there, so the
    NumPy and Catalyst evaluations agree bit-for-bit; ``_round6_half_up``
    replicates ``F.round`` semantics).

    Inputs are the mirrored row-sum adjacency arrays (each u≠v edge twice,
    self-loops once with doubled w) and the current supernode ids. Returns
    ``(labels, levels_run, total_iters, converged)`` with ``labels[i]`` =
    final community (min original member id) of ``ids[i]``."""
    import numpy as np

    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    w = np.asarray(w, dtype=np.float64)
    ids = np.sort(np.asarray(ids, dtype=np.int64))

    # fpos[i] = position of ORIGINAL node ids0[i] in the CURRENT level's ids
    fpos = np.arange(len(ids), dtype=np.int64)
    out_labels = ids.copy()
    levels = 0
    total_iters = 0
    moves_last_level = 1
    level_conv = True

    for _ in range(int(max_levels)):
        n = len(ids)
        sp = np.searchsorted(ids, src)
        dp = np.searchsorted(ids, dst)
        k = np.bincount(sp, weights=w, minlength=n)
        # community as a POSITION into ids: positions are order-isomorphic
        # to labels (ids sorted ascending), so every label comparison and
        # tie-break below is done on positions
        comm = np.arange(n, dtype=np.int64)
        # per-class edge subsets / movers (fixed for the whole level)
        nonloop = src != dst
        cls_e = np.mod(src, n_classes)
        by_class = []
        for p in range(n_classes):
            sel = nonloop & (cls_e == p)
            by_class.append((
                sp[sel].astype(np.int64), dp[sel], w[sel],
                np.nonzero(np.mod(ids, n_classes) == p)[0].astype(np.int64),
            ))
        level_moves = 0
        it = 0
        last_iter_moves = 1
        while it < max_iterations:
            iter_moves = 0
            for p in range(n_classes):
                se, de, we, movers = by_class[p]
                # candidate tallies k_{v,C} over edges + (v, cur, 0)
                key = np.concatenate([
                    se * n + comm[de],
                    movers * n + comm[movers],
                ])
                kw = np.concatenate([we, np.zeros(len(movers))])
                uk, inv = np.unique(key, return_inverse=True)
                kuc = np.bincount(inv, weights=kw)
                vpos = uk // n
                cpos = uk % n
                # volumes from the PREVIOUS assignment (sync within class)
                volv = np.bincount(comm, weights=k, minlength=n)
                cur_of_v = comm[vpos]
                kv = k[vpos]
                own = np.where(cpos == cur_of_v, kv, 0.0)
                # mirror Spark's evaluation order:
                # kuc - ((gamma * k) * (vol - own)) / (2m), rounded 6dp
                s = _round6_half_up(
                    kuc - ((gamma * kv) * (volv[cpos] - own)) / (2.0 * m))
                # argmax per v: max s, tie -> smaller C
                order = np.lexsort((cpos, -s, vpos))
                first = np.unique(vpos[order], return_index=True)[1]
                b_v = vpos[order][first]
                b_c = cpos[order][first]
                b_s = s[order][first]
                # score of the CURRENT community (always a candidate)
                is_cur = cpos == cur_of_v
                cur_s = np.empty(n)
                cur_s[vpos[is_cur]] = s[is_cur]
                mv = b_s > cur_s[b_v]
                changed = int(np.count_nonzero(mv))
                if changed:
                    comm[b_v[mv]] = b_c[mv]
                iter_moves += changed
            level_moves += iter_moves
            it += 1
            last_iter_moves = iter_moves
            if iter_moves == 0:
                break
        total_iters += it
        level_conv = last_iter_moves == 0
        # relabel to min member id (positions -> min member position)
        lab_min = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(lab_min, comm, np.arange(n, dtype=np.int64))
        comm = lab_min[comm]
        out_labels = ids[comm[fpos]]
        levels += 1
        moves_last_level = level_moves
        if level_moves == 0:
            break
        # coarsen: group (comm[src], comm[dst]) sum w
        upos = np.unique(comm)
        new_ids = ids[upos]
        nn = len(new_ids)
        ren = np.empty(n, dtype=np.int64)
        ren[upos] = np.arange(nn, dtype=np.int64)
        ck = ren[comm[sp]] * nn + ren[comm[dp]]
        uk, inv = np.unique(ck, return_inverse=True)
        w = np.bincount(inv, weights=w)
        src = new_ids[(uk // nn).astype(np.int64)]
        dst = new_ids[(uk % nn).astype(np.int64)]
        fpos = ren[comm[fpos]]
        ids = new_ids

    converged = (moves_last_level == 0) or level_conv
    return out_labels, levels, total_iters, converged


def _modularity_local(src, dst, w, labels_by_pos, ids, m, gamma):
    """Driver-side ``_modularity_value`` on the mirrored row-sum arrays."""
    import numpy as np
    ids = np.asarray(ids, dtype=np.int64)
    sp = np.searchsorted(ids, np.asarray(src, dtype=np.int64))
    dp = np.searchsorted(ids, np.asarray(dst, dtype=np.int64))
    w = np.asarray(w, dtype=np.float64)
    lab = np.asarray(labels_by_pos, dtype=np.int64)
    ulab, lpos = np.unique(lab, return_inverse=True)
    intra = np.bincount(
        lpos[sp], weights=np.where(lab[sp] == lab[dp], w, 0.0),
        minlength=len(ulab))
    vol = np.bincount(lpos[sp], weights=w, minlength=len(ulab))
    return float(np.sum(intra / (2.0 * m)
                        - gamma * (vol / (2.0 * m)) ** 2))


def _multilevel(graph, max_levels, max_iterations, n_classes, weighted,
                refine: bool, gamma: float = 1.0, theta: float = 0.0,
                seed: int = 42):
    spark = graph.nodes.sparkSession
    scratch = Scratch(spark)
    try:
        adj0 = scratch.truncate(_adjacency(graph, weighted), "adj0")
        nodes = graph.nodes.select("node_id")
        m = float(adj0.agg(F.sum("w")).first()[0] or 0.0) / 2.0
        identity = nodes.select("node_id", F.col("node_id").alias("community"))
        if m == 0.0:
            return CommunityResult(identity, 0.0, 0, 0, True)

        mapping = nodes.select("node_id", F.col("node_id").alias("super"))
        adj = adj0
        sup = nodes
        levels = 0
        total_iters = 0
        level_conv = True
        moves = 0
        adj_stream = "adj0"
        for _ in range(max_levels):
            # size policy (module doc): the level's undirected edge count
            # sets the AQE toggle; with its supernode count it picks the
            # local finish. Level 0 of a 100 TB graph never takes the
            # local finish; coarsened levels usually do.
            edges_tier = tier(scratch.rows(adj_stream) // 2)
            scratch.aqe_off = edges_tier == "parquet"
            if not refine and edges_tier == "local" and tier(
                    scratch.rows("sup") if levels else sup.count()) == "local":
                import numpy as np
                import pandas as pd
                pa = adj.select("src", "dst", "w").toPandas()
                ids = np.sort(sup.select("node_id").toPandas()
                              ["node_id"].to_numpy(dtype=np.int64))
                labels, lf_levels, lf_iters, lf_conv = _local_solve(
                    pa["src"].to_numpy(), pa["dst"].to_numpy(),
                    pa["w"].to_numpy(), ids, m,
                    max_levels - levels, max_iterations, n_classes, gamma)
                lab_pdf = pd.DataFrame(
                    {"super": ids, "community": labels.astype("int64")})
                if levels == 0:
                    # mapping is still the identity: emit directly
                    final = spark.createDataFrame(
                        lab_pdf.rename(columns={"super": "node_id"}))
                    q = _modularity_local(
                        pa["src"].to_numpy(), pa["dst"].to_numpy(),
                        pa["w"].to_numpy(), labels, ids, m, gamma)
                else:
                    final = mapping.join(
                        F.broadcast(spark.createDataFrame(lab_pdf)),
                        "super").select("node_id", "community")
                    q = _modularity_value(
                        adj0,
                        final.select("node_id",
                                     F.col("community").alias("comm")),
                        m, gamma)
                final = final.localCheckpoint(eager=True)
                return CommunityResult(final, q, levels + lf_levels,
                                       total_iters + lf_iters, lf_conv)
            k = scratch.truncate(_degrees(adj, sup), "k")
            if levels == 0:
                n_nodes = scratch.rows("k")
            comm, moves, iters, level_conv = _local_move(
                adj, sup, k, m, max_iterations, n_classes, scratch, gamma)
            total_iters += iters
            if refine:
                # aggregate on the refined (connectivity-split) partition:
                # every community the next level sees is connected — the
                # invariant Leiden's refinement exists to restore (full
                # Leiden additionally seeds the next level's move start from
                # the unrefined partition; local moving re-merges the splits
                # when modularity favors it)
                if theta and theta > 0.0:
                    # θ-randomized refinement from singletons: fragments are
                    # connected by construction (every merge follows an edge)
                    comm = _theta_refine(adj, comm, k, m, gamma, theta,
                                         seed, scratch)
                else:
                    comm = _refine_connectivity(adj, comm)
            comm = _relabel_min_member(comm)
            levels += 1
            # the last level's assignment is read only by the final
            # modularity and checkpoint: it stays lazy, and no coarse graph
            # is built for a level that will not run
            last = moves == 0 or levels == max_levels
            # first-truncate size hints (Scratch.truncate) from counts the
            # run holds: a level's assignment has one row per supernode
            # (= its k rows), the mapping one per node, and a coarse level
            # at most the supernodes and adjacency rows of the one below
            if not last:
                comm = scratch.truncate(comm, "rl",
                                        rows_hint=scratch.rows("k"))
            if levels == 1:
                # composing with the identity: the relabel IS the mapping
                mapping = comm.select("node_id", F.col("comm").alias("super"))
            else:
                mapping = mapping.join(
                    comm.withColumnRenamed("node_id", "super"), "super"
                ).select("node_id", F.col("comm").alias("super"))
                if not last:
                    mapping = scratch.truncate(mapping, "map",
                                               rows_hint=n_nodes)
            if last:
                break
            adj = scratch.truncate(_coarsen(adj, comm), "cadj",
                                   rows_hint=scratch.rows(adj_stream))
            adj_stream = "cadj"
            sup = scratch.truncate(
                comm.select(F.col("comm").alias("node_id")).distinct(), "sup",
                rows_hint=scratch.rows("k"))
        final = mapping.select("node_id", F.col("super").alias("community"))
        q = _modularity_value(
            adj0, final.select("node_id", F.col("community").alias("comm")),
            m, gamma)
        final = final.localCheckpoint(eager=True)
        # converged = the last level's local moving reached a fixpoint
        # (either it broke the level loop with moves == 0, or its final
        # block moved nothing at the iteration cap); a run that exhausted
        # max_levels while still moving is honestly reported unconverged
        converged = (moves == 0) or level_conv
        return CommunityResult(final, q, levels, total_iters, converged)
    finally:
        scratch.cleanup()


def louvain(
    graph: Graph,
    max_levels: int = 10,
    max_iterations: int = 10,
    n_classes: int = 2,
    weighted: bool = True,
) -> CommunityResult:
    """``gds.louvain`` analog (Louvain.java:49). Deterministic schedule —
    see module docstring; community ids = min original member node id."""
    return _multilevel(graph, max_levels, max_iterations, n_classes, weighted,
                       refine=False)


def leiden(
    graph: Graph,
    max_levels: int = 10,
    max_iterations: int = 10,
    n_classes: int = 2,
    weighted: bool = True,
    gamma: float = 1.0,
    theta: float = 0.01,
    seed: int = 42,
) -> CommunityResult:
    """``gds.leiden`` analog (Leiden.java:42): local moving at resolution
    ``gamma`` (LeidenBaseConfig.java:38, scaled into the gain the same way
    the reference folds its modularityScaleCoefficient into γ), then
    refinement between local moving and aggregation:

    1. connectivity split — every community is split into the connected
       components of its induced subgraph (the invariant Leiden exists to
       restore: no disconnected communities);
    2. θ-randomized merge (LeidenBaseConfig.java:43, default 0.01) — each
       split fragment may merge back into an adjacent fragment of the SAME
       original community when the γ-modularity gain is positive, the
       target drawn ∝ exp(gain/θ) via the Gumbel-max trick over the
       hash-u01 stream: deterministic given ``seed`` (the reference takes
       randomSeed too), reproducing the reference's randomized-refinement
       DISTRIBUTION shape without run-to-run nondeterminism. θ=0 disables
       the randomized pass (pure connectivity refinement).

    Merges only apply on positive gain, so refinement never degrades the
    γ-modularity of the split partition it starts from."""
    return _multilevel(graph, max_levels, max_iterations, n_classes, weighted,
                       refine=True, gamma=gamma, theta=theta, seed=seed)
