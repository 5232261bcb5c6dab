"""The engine's one size policy, and the loop-state truncation every
iterative loop uses.

**Size policy.** Every size-gated choice asks :func:`tier`;
:data:`LARGE_STATE_ROWS` is the package's only size threshold:

- ``"local"`` — a known count below it: a loop with a driver-local kernel
  (Louvain's local finish, BPE's merge loop, the PageRank superstep loop
  of ``operators/pagerank.py``, triangle counting) runs on the driver;
  any other loop runs it as ``"memory"``. PageRank and triangles ask
  through one gate, ``Graph.tier()``: this function of the larger of the
  graph's node and edge counts, which the Graph caches, so kernels run on
  one Graph count it once.
- ``"parquet"`` — at or above it, or unknown (the scale-safe side):
  parquet truncation, AQE off, superstep fusion, shuffled joins.
- ``"memory"`` — only through the override :func:`pinned_tier`: the
  distributed kernel on small input (memory truncation, AQE on, broadcast
  joins).

**Truncation.** An iterative DataFrame loop grows its logical plan every
step and Catalyst re-analysis cost explodes in plan depth, so each
iteration's state is materialized and re-read from a flat plan. Two ways to
do that, chosen by :func:`tier` of the state's row count:

- **memory** (``"local"``, ``"memory"``): an eager SERIALIZED
  ``localCheckpoint`` with its origin statistics stripped
  (:func:`strip_origin_stats`) and the state two truncations back
  unpersisted. Without the unpersist, chained
  localCheckpoints pin every iteration's state in storage memory forever —
  the measured 0.5 → 7.4 s/superstep degradation (docs/SCALE_NOTES.md §2).
  Serialized storage keeps the blocks as compact Tungsten bytes the GC scans
  in O(#blocks), not O(#rows): the deserialized default more than doubled a
  local[2] 57M-edge suite. Zero disk I/O — at small states this removes the
  ~0.3 s/truncate write+read floor (measured at sf0.1: pagerank ~2×).
- **parquet** (``"parquet"``): a round-trip through two alternating
  scratch slots per stream. Rescans are vectorized columnar batch reads
  inside whole-stage codegen — measured 2× faster than serialized-checkpoint
  rescans at the 57M-edge, 8M-row scale, where a row-wise checkpoint cache
  deserializes per row.

:class:`Scratch` is the one truncation every loop uses: the Pregel driver
and every ad-hoc operator loop (k-core peeling, random-walk frontiers,
forest level descent, BPE rounds, ...), one named stream per state.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

#: rows at or above which a loop is scan-bound rather than job-floor-bound:
#: the one size threshold :func:`tier` applies (docs/SCALE_NOTES.md §11, §20)
LARGE_STATE_ROWS = 1_000_000

_pinned: ContextVar[str | None] = ContextVar("pinned_tier", default=None)


def tier(rows: int | None) -> str:
    """The size policy (module doc): ``"local"`` for a known ``rows`` below
    :data:`LARGE_STATE_ROWS`, ``"parquet"`` at or above it or when unknown
    — unless :func:`pinned_tier` fixes the answer."""
    pinned = _pinned.get()
    if pinned is not None:
        return pinned
    if rows is None or rows >= LARGE_STATE_ROWS:
        return "parquet"
    return "local"


@contextmanager
def pinned_tier(t: str):
    """Make every :func:`tier` call inside the block return ``t``. Nests;
    the outer answer is restored on exit, also when the block raises."""
    if t not in ("local", "memory", "parquet"):
        raise ValueError(f"unknown tier {t!r}")
    token = _pinned.set(t)
    try:
        yield
    finally:
        _pinned.reset(token)


@contextmanager
def no_aqe(spark: SparkSession, active: bool = True):
    """Disable adaptive query execution for the queries run inside (a no-op
    when ``active`` is False).

    Fused superstep blocks reference each sub-step's output 2-5× (join side
    + message branch). The static ``ReuseExchange`` rule dedupes those
    references perfectly — measured per-superstep cost *falls* with block
    depth (4.9 s → 0.83 s at depth 5 on a 2M-edge WCC step). Under AQE,
    runtime query-stage reuse stops matching beyond depth ~2 and the chain
    re-executes its prefix per reference: depth 6 measured ~5× the work
    (docs/SCALE_NOTES.md §11). Below the size gate AQE's partition
    coalescing wins outright, so callers pass ``active`` from :func:`tier`.

    The flag is read per query execution, so toggling around the single
    materializing action is safe; restored in a ``finally``."""
    if not active:
        yield
        return
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def strip_origin_stats(df: DataFrame) -> DataFrame:
    """Re-wrap a checkpointed DataFrame's RDD WITHOUT the origin plan's
    statistics.

    Since SPARK-34899 a (local)checkpoint's ``LogicalRDD`` carries the
    ORIGIN plan's computed statistics forward. In an iterative loop the
    next iteration's join-size estimate is then a product over the previous
    iteration's (already estimated) sizes, so the carried ``sizeInBytes``
    compounds EXPONENTIALLY across supersteps — measured: 7,901 decimal
    digits after 10 chained 1-join supersteps; a nested loop (Borůvka's
    outer rounds × inner min-label rounds, operators/spanning.py) overflows
    BigInteger's 2^31-bit cap (``ArithmeticException: BigInteger would
    overflow supported range``) and, well before that, Catalyst spends its
    planning time on multi-million-bit BigInt arithmetic. The parquet
    scratch path never sees this (a fresh scan gets honest file-size
    stats); in-memory truncation must therefore drop the origin stats —
    the rebuilt ``LogicalRDD`` falls back to ``defaultSizeInBytes``, which
    is what a pre-3.2 checkpoint reported. The rebuilt plan SCANS the same
    persisted checkpoint blocks (``toRdd`` of a checkpoint scan), so
    storage/unpersist bookkeeping against the original checkpoint RDD is
    unaffected."""
    spark = df.sparkSession
    try:
        jrdd = df._jdf.queryExecution().toRdd()
        jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
            df.schema.json())
        jds = spark._jsparkSession.internalCreateDataFrame(jrdd, jschema, False)
        return DataFrame(jds, spark)
    except Exception:  # pragma: no cover - private-API shape changed
        return df


def _checkpoint(df: DataFrame):
    """Eager serialized localCheckpoint with origin stats stripped →
    ``(state, checkpoint RDD handle)``; the handle is what a later
    :func:`_unpersist` retires (None if the plan shape changed)."""
    new = df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    try:
        rdd = new._jdf.queryExecution().analyzed().rdd()
    except Exception:  # pragma: no cover - plan shape changed
        rdd = None
    return strip_origin_stats(new), rdd


def _unpersist(rdd) -> None:
    if rdd is not None:
        try:
            rdd.unpersist(False)
        except Exception:  # pragma: no cover
            pass


class Scratch:
    """Per-stream loop-state truncation, SIZE-gated per truncate.

    Each named stream keeps a two-state validity window: a stream's
    previous state stays readable until the stream truncates twice more
    (two alternating parquet slots, or the grandparent checkpoint retired),
    so the memory and parquet paths are drop-in interchangeable.

    The gate is per stream: the first truncate of a stream is parquet (row
    count unknown — the scale-safe side) unless ``rows_hint`` seeds it;
    from then on the stream's own row count, observed in the materializing
    job via ``Observation`` (no extra action), picks the path through
    :func:`tier` — parquet on ``"parquet"``, memory otherwise. :meth:`rows`
    returns that count, so loops test for an empty frontier for free.

    ``aqe_off`` is set by the caller from :func:`tier` and applies to
    parquet writes: disabling AQE protects static ReuseExchange dedup
    inside fused chains (:func:`no_aqe`), which pays only when re-executed
    exchanges dominate.
    Below that, AQE's partition coalescing wins outright — measured at
    sf0.1 (600k edges, local[32]) a 2-level Louvain is 97.6 s with AQE off
    vs 31.8 s with AQE on, while a depth-2 chain at 14M edges runs ~1.5×
    better with AQE off."""

    def __init__(self, spark: SparkSession, aqe_off: bool = False):
        self.spark = spark
        self.aqe_off = aqe_off
        self.dir = tempfile.mkdtemp(prefix="gds_scratch_")
        self._n: dict[str, int] = {}      # stream -> parquet writes so far
        self._rows: dict[str, int] = {}   # stream -> last observed row count
        self._hist: dict[str, list] = {}  # stream -> last two (state, RDD)

    def rows(self, stream: str) -> int | None:
        """Row count of the stream's latest state (None before its first
        truncate)."""
        return self._rows.get(stream)

    def in_memory(self, stream: str, rows_hint: int | None = None) -> bool:
        """Whether the next truncate of ``stream`` checkpoints in memory."""
        return tier(self._rows.get(stream, rows_hint)) != "parquet"

    def truncate(self, df: DataFrame, stream: str,
                 rows_hint: int | None = None) -> DataFrame:
        """Materialize ``df`` as the stream's new state on a flat plan.
        ``rows_hint`` seeds the gate for a stream's FIRST truncate (callers
        using per-level stream names pass the previous level's count)."""
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        rdd = None
        if self.in_memory(stream, rows_hint):
            new, rdd = _checkpoint(df)
        else:
            c = self._n.get(stream, 0)
            path = os.path.join(self.dir, f"{stream}-{c % 2}")
            with no_aqe(self.spark, self.aqe_off):
                df.write.mode("overwrite").parquet(path)
            self._n[stream] = c + 1
            new = self.spark.read.parquet(path)
        self._rows[stream] = int(obs.get["rows"] or 0)
        hist = self._hist.setdefault(stream, [])
        hist.append((new, rdd))
        if len(hist) > 2:
            _unpersist(hist.pop(0)[1])
        return new

    def cleanup(self, keep: DataFrame | None = None) -> DataFrame | None:
        """Reclaim scratch: parquet slots AND live memory checkpoints.

        A result that must outlive the scratch is passed as ``keep`` and
        returned detached: a stream's latest memory checkpoint is simply
        left resident (no extra job); anything else — a parquet-backed state
        — gets one terminal ``localCheckpoint(eager=True)`` before its files
        go. The pathology is CHAINED never-unpersisted checkpoints, not one
        terminal one."""
        live = [e for hist in self._hist.values() for e in hist]
        spare = next((rdd for d, rdd in live
                      if d is keep and rdd is not None), None)
        if keep is not None and spare is None:
            keep = keep.localCheckpoint(eager=True)
        shutil.rmtree(self.dir, ignore_errors=True)
        for _, rdd in live:
            if rdd is not spare:
                _unpersist(rdd)
        self._hist.clear()
        return keep

