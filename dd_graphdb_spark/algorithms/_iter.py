"""Shared iteration utilities for driver-loop fixpoint algorithms.

Fixpoint loops eagerly ``localCheckpoint`` their evolving state each
round (lineage truncation — without it every job re-executes the whole
chained-join history). Checkpointed RDD blocks stay pinned in the block
manager until explicitly unpersisted; left alone, a few fixpoint runs
accumulate pinned block sets and *later* queries in the same session
degrade badly (measured 12s → 400s for an unrelated query in the same
session). GC-based cleanup is unreliable — the loop frame's py4j
references defeat it and JVM GC is asynchronous — so ``run_loop``
brackets the loop with explicit bookkeeping:

1. snapshot the persistent-RDD ids before the loop,
2. run the loop,
3. copy the result into one fresh localCheckpoint (its blocks are the
   only thing the caller needs),
4. unpersist every other RDD the loop pinned.

A localCheckpoint'ed RDD cannot be recomputed after unpersist (its
lineage is truncated), which is why the result must be re-checkpointed
*before* the loop's blocks are freed.

Physical choices that belong to one loop's plans — a wider AQE initial
partition count, AQE off for a keyed checkpoint, a narrow width for
tiny state — are scoped by planning that work in a ``cloned_session``
and ``rebind``-ing frames in and out; the caller's session conf is
never changed, so concurrent callers of one shared session (``api.py``)
never plan with another call's settings. Pinned-block bookkeeping stays
per SparkContext, which every clone shares.
"""

from __future__ import annotations

import dataclasses
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: serializes the snapshot→loop→unpersist bracket: the diff-based
#: bookkeeping sees SESSION-global pinned-RDD state, so a second loop
#: (e.g. another thread of an embedding HTTP server) pinning checkpoints
#: between this loop's snapshots would have its blocks unpersisted —
#: and a localCheckpoint cannot be recomputed after unpersist
_PIN_LOCK = threading.RLock()

_INITIAL_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

#: AQE initial shuffle-partition count for loops whose per-round
#: aggregates are EDGE-sized (synchronized LPA's neighbor-label
#: frequencies, FastSV's per-edge min-reductions, k-core's degree
#: recount). AQE can coalesce shuffle partitions but never split them,
#: so the initial count bounds per-task aggregation hash tables: at sf10
#: the LPA label-frequency aggregate packed ~13 M groups into each of 32
#: reduce partitions and spilled (1272 s; 191 s at 256). A GLOBAL raise
#: is wrong the other way — small-state loops (BFS frontiers) pay
#: per-round fan-out overhead for nothing (same-host sf10 A/B: 7.9 s at
#: 32 → 33.5 s at 256) — so only those loops plan in a ``wide_graph``
#: clone. The raise is unconditional within them: a controlled A/B at
#: sf0.1 (min-of-3 ×2, one session) read always-raise ≤ a Catalyst
#: size-estimate gate on every gated query — kcore [0.79–0.82] vs
#: [0.93–1.07] s, LPA [0.97–0.99] vs [1.07–1.24] s, SSSP flat — because
#: AQE's runtime coalescing already absorbs the 256 initial partitions
#: on small inputs, while the gate's probe costs an optimizer pass.
WIDE_PARTITIONS = 256

#: shuffle width for work whose whole state is tiny (an incremental
#: view's maintained graph after a handful of delta batches): its cost
#: is task-scheduling fan-out, not data — partition count dominates
#: small-state rounds (BFS small-state loop: 7.9 s at 32 partitions →
#: 33.5 s at 256). Callers gate this on a MEASURED state size.
NARROW_PARTITIONS = 8

NARROW_CONF = {
    "spark.sql.shuffle.partitions": str(NARROW_PARTITIONS),
    _INITIAL_PARTITIONS: str(NARROW_PARTITIONS),
}


def cloned_session(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` with ``conf`` applied — the engine's one way
    to scope a conf change to its own plans.

    ``api.py`` serves one shared session to concurrent threads, so
    setting and restoring the caller's conf around engine work would let
    every query planned meanwhile on another thread pick up the change
    (and a lost restore would keep it). The clone carries the caller's
    runtime settings at clone time (``newSession()`` would drop them —
    e.g. the ``nanosAsLong`` read_events needs at execution time) and
    nothing set on it reaches the caller, so there is nothing to restore,
    also when the scoped work raises. Frames move between the two with
    ``rebind``. Spark Connect has no JVM session to clone: the work
    then runs in the caller's session, unscoped."""
    try:
        jclone = spark._jsparkSession.cloneSession()
    except AttributeError:
        return spark
    for k, v in conf.items():
        jclone.conf().set(k, v)
    return SparkSession(spark.sparkContext, jclone)


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``spark``: later planning
    (and execution) of it uses ``spark``'s conf. Checkpointed frames
    keep their recorded partitioning and ordering. No-op for a frame
    already in ``spark`` and on Spark Connect."""
    if df.sparkSession is spark or not hasattr(df, "_jdf"):
        return df
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)


def rebind_graph(g, spark: SparkSession):
    """PropertyGraph ``g`` with both frames rebound into ``spark``."""
    return dataclasses.replace(
        g, vertices=rebind(g.vertices, spark), edges=rebind(g.edges, spark)
    )


def wide_graph(g):
    """``g`` rebound into a clone of its session planning with
    ``WIDE_PARTITIONS`` initial AQE partitions, for loops with EDGE-sized
    per-round aggregates. ``run_loop`` rebinds the loop's result back."""
    wide = {_INITIAL_PARTITIONS: str(WIDE_PARTITIONS)}
    return rebind_graph(g, cloned_session(g.vertices.sparkSession, wide))


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for a frame (file sizes for scan-backed
    plans) — a free, action-less size signal for scale-adaptive knobs.
    None when the estimate is unusable (the conservative default Spark
    reports for un-stat'd relations, or any gateway error)."""
    try:
        n = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    # Catalyst falls back to spark.sql.defaultSizeInBytes (Long.MaxValue
    # unless CBO stats exist) for relations it cannot size — treat any
    # absurdly large estimate as unknown
    return n if 0 <= n < (1 << 50) else None


def _ckpt(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint with SERIALIZED memory+disk blocks.

    PySpark's MEMORY_AND_DISK constant is the serialized variant; the
    JVM-side localCheckpoint default stores DESERIALIZED object rows,
    ~3-4x the footprint — and on read-back of disk-spilled blocks the
    block manager re-unrolls them into object arrays
    (maybeCacheDiskValuesInMemory), which with 32 concurrent tasks
    unrolling ~550 MiB partitions OOM'd a 64 g heap in the sf10 SCC
    loop (and the ~400 M-row sf10 edge checkpoint plus 32 concurrent
    build sorts OOM'd it in copartitioned). Serialized blocks fit, their
    unroll accounting is chunked, and per-round scans decode Tungsten
    rows cheaply. Every eager checkpoint of loop state, keyed layouts
    and the run_loop result bracket goes through here."""
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)


def keyed_ckpt(df: DataFrame) -> DataFrame:
    """``_ckpt`` planned with AQE off, returned in ``df``'s session.

    ``localCheckpoint`` records the physical plan's
    outputPartitioning/outputOrdering into the resulting LogicalRDD —
    but under AQE the physical plan is an AdaptiveSparkPlanExec whose
    partitioning is unknown at checkpoint time, so the checkpoint comes
    out with UnknownPartitioning and every downstream join re-shuffles
    it. Planned with AQE off, a ``repartition(n, keys)`` frame's
    checkpoint carries hashpartitioning(keys, n) plus any sort order the
    plan ends with, and later joins on ``keys`` (AQE back on) read its
    blocks without an exchange or sort. AQE is switched off only in a
    ``cloned_session``, so the caller stays adaptive throughout."""
    caller = df.sparkSession
    aqe_off = cloned_session(caller, {"spark.sql.adaptive.enabled": "false"})
    return rebind(_ckpt(rebind(df, aqe_off)), caller)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly truncate lineage; later jobs read the stored blocks."""
    return _ckpt(df)


def materialize_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize a loop frame AND return its row count in ONE action
    (r16): mark a LAZY localCheckpoint, then force it with ``count()``
    — the count's scan computes (and therefore stores) the checkpoint
    blocks, so the separate ``isEmpty()`` job every fixpoint round used
    to pay disappears. Measured at local[32]: eager-ckpt + isEmpty
    3.30 s vs lazy-ckpt + count 1.74 s over 5 reps of a small
    aggregate frame, same job count — the eager path's internal
    rdd.count() does the same work the DataFrame count() does, and
    isEmpty was pure additional latency. Same serialized
    MEMORY_AND_DISK storage as _ckpt."""
    from pyspark.storagelevel import StorageLevel

    out = df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    return out, out.count()


def materialize_agg(df: DataFrame, *aggs) -> tuple[DataFrame, tuple]:
    """Untracked sibling of RoundPins.materialize_agg: one action
    materializes the frame and evaluates the given aggregates over it."""
    from pyspark.storagelevel import StorageLevel

    out = df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    return out, tuple(out.agg(*aggs).collect()[0])


def copartitioned(df: DataFrame, *keys: str, dedup_cols: list | None = None) -> DataFrame:
    """Checkpoint a loop-static frame hash-partitioned AND sorted on
    ``keys`` so every per-round equi-join on those keys reads the stored
    layout instead of re-exchanging (and re-sorting) the frame each round.

    The checkpoint is a ``keyed_ckpt`` (planned with AQE off): under
    AQE it would come out with UnknownPartitioning, and for a fixpoint
    loop that joins a static edge list every round that is the dominant
    cost at scale — the sf10 supplier co-location graph (~400 M directed
    edges) was shuffle-written 10× inside the SSSP loop (measured
    1372 s; VERDICT r8 "What's wrong #1"). With the keyed layout the
    consuming sort-merge joins exchange and sort only the frontier
    side — the edge side is a bare block scan.

    ``dedup_cols``: deduplicate rows on these columns INSIDE the build —
    AFTER the repartition, so the whole build is ONE exchange. A caller
    who writes ``df.distinct()`` before calling pays a second full
    exchange (hash over all columns, then hash over keys); placing the
    dropDuplicates after ``repartition(n, keys)`` costs none, because
    HashPartitioning(keys) already satisfies the aggregate's
    ClusteredDistribution(dedup_cols) whenever keys ⊆ dedup_cols (equal
    dedup keys co-locate under the coarser partitioning).

    100 TB posture: this is the local-mode equivalent of bucketing the
    edge table by join key — one exchange at build time, zero per round.
    """
    if dedup_cols is not None and not set(keys) <= set(dedup_cols):
        raise ValueError(
            f"dedup_cols {dedup_cols} must contain the partition keys "
            f"{keys} (dedup after repartition is only correct when equal "
            "dedup keys co-locate)"
        )
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    out = df.repartition(n, *keys)
    if dedup_cols is not None:
        out = out.dropDuplicates(dedup_cols)
    return keyed_ckpt(out.sortWithinPartitions(*keys))


def _persistent_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    out: set[int] = set()
    it = sc.getPersistentRDDs().iterator()
    while it.hasNext():
        out.add(it.next()._1())
    return out


def _unpersist(spark, ids: set[int]) -> None:
    sc = spark.sparkContext._jsc.sc()
    it = sc.getPersistentRDDs().iterator()
    while it.hasNext():
        e = it.next()
        if e._1() in ids:
            e._2().unpersist(False)


class RoundPins:
    """Per-round checkpoint-and-release for fixpoint loops whose state is
    re-checkpointed every round.

    ``run_loop``'s bracket frees a loop's pinned blocks only AFTER the
    loop finishes — so a loop that localCheckpoints an edge-sized frame
    every round still accumulates rounds × |edges| of pinned storage
    DURING the loop. On the sf10 colocation graph (~200 M undirected
    edges) that starved execution memory inside k-core
    (SparkOutOfMemoryError UNABLE_TO_ACQUIRE_MEMORY) long before the
    end-of-loop cleanup could run. At 100 TB the same applies to
    vertex-sized states (BFS ``visited`` grows, and every round pins a
    fresh full copy).

    Usage inside a loop ``impl`` (always under ``run_loop``, whose
    ``_PIN_LOCK`` makes the id-diff bookkeeping safe):

        pins = RoundPins(spark)
        state = pins.materialize(initial)
        for _ in range(n):
            state = pins.materialize(step(state))
            pins.release_except(state)          # frees all other rounds

    Only frames materialized VIA this object are tracked — frames
    checkpointed directly (e.g. the static edge list) are never freed.
    ``release_except`` is safe to call once the surviving frames are
    eagerly materialized: a localCheckpoint holds no lineage into the
    frames it was computed from.
    """

    def __init__(self, spark) -> None:
        self._spark = spark
        try:
            _persistent_ids(spark)
            self._classic = True
        except Exception:  # Spark Connect — no block bookkeeping
            self._classic = False
        #: id(frame) -> rdd ids its checkpoint pinned; frames are kept
        #: referenced so CPython cannot reuse an id() key
        self._ids: dict[int, set[int]] = {}
        self._frames: dict[int, DataFrame] = {}

    def materialize(self, df: DataFrame) -> DataFrame:
        if not self._classic:
            return _ckpt(df)
        before = _persistent_ids(self._spark)
        out = _ckpt(df)
        self._ids[id(out)] = _persistent_ids(self._spark) - before
        self._frames[id(out)] = out
        return out

    def materialize_count(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Tracked variant of module-level ``materialize_count`` — one
        action materializes the round's frame and returns its row count
        (replaces the per-round ``isEmpty()`` job); same pinned-block
        bookkeeping as ``materialize``."""
        if not self._classic:
            return materialize_count(df)
        before = _persistent_ids(self._spark)
        out, n = materialize_count(df)
        self._ids[id(out)] = _persistent_ids(self._spark) - before
        self._frames[id(out)] = out
        return out, n

    def materialize_agg(self, df: DataFrame, *aggs) -> tuple[DataFrame, tuple]:
        """One action materializes the round's frame AND evaluates the
        loop's convergence aggregates over it (e.g. the CC/SCC
        sum-of-labels fixpoint test) — replaces the per-round
        checkpoint job + separate scalar-aggregate job. Returns
        (frame, agg row as tuple)."""
        from pyspark.storagelevel import StorageLevel

        if not self._classic:
            out = df.localCheckpoint(
                eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            return out, tuple(out.agg(*aggs).collect()[0])
        before = _persistent_ids(self._spark)
        out = df.localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        row = tuple(out.agg(*aggs).collect()[0])
        self._ids[id(out)] = _persistent_ids(self._spark) - before
        self._frames[id(out)] = out
        return out, row

    def forget(self, *dfs: DataFrame) -> None:
        """Stop tracking frames WITHOUT unpersisting them — for per-round
        outputs accumulated into the loop's result (e.g. SCC's peeled
        components): they must stay pinned until ``run_loop``'s end
        bracket re-checkpoints the final result and frees them."""
        for df in dfs:
            self._ids.pop(id(df), None)
            self._frames.pop(id(df), None)

    def release_except(self, *live: DataFrame) -> None:
        """Free every tracked checkpoint except the given frames'."""
        if not self._classic:
            return
        keep = {id(df) for df in live}
        live_ids: set[int] = set()
        for k in keep:
            live_ids |= self._ids.get(k, set())
        dead: set[int] = set()
        for k, ids in list(self._ids.items()):
            if k not in keep:
                dead |= ids
                del self._ids[k]
                del self._frames[k]
        _unpersist(self._spark, dead - live_ids)


def run_loop(impl: Callable[..., DataFrame], g, *args, **kwargs) -> DataFrame:
    """Run a fixpoint loop and free every block it pinned except the
    result's. ``g`` is the PropertyGraph (first arg of every impl). A
    loop that plans in a ``cloned_session`` (e.g. over ``wide_graph(g)``)
    gets its result re-checkpointed in, and returned to, ``g``'s own
    session."""
    spark = g.vertices.sparkSession
    with _PIN_LOCK:
        try:
            before = _persistent_ids(spark)
        except Exception:  # non-classic gateway (Spark Connect) — just run
            return impl(g, *args, **kwargs)
        final_ids: set[int] = set()
        try:
            result = impl(g, *args, **kwargs)
            mid = _persistent_ids(spark)
            final = _ckpt(rebind(result, spark))
            final_ids = _persistent_ids(spark) - mid
            return final
        finally:
            # also on a raising loop (e.g. a non-convergence guard):
            # everything the aborted loop pinned is garbage — leaving it
            # pinned is the 12s→400s same-session degradation this
            # bracket exists to prevent
            _unpersist(spark, (_persistent_ids(spark) - before) - final_ids)
