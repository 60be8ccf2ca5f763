"""Tracked persistence: a session-wide registry of persisted intermediates.

Operators persist intermediates (edge lists, LSH band projections,
shingle postings) that outlive the function that created them — the
returned lazy plan still references them, so the creator can never
safely unpersist. Without a release point a 100+-query gate or bench
session accumulates MEMORY_AND_DISK blocks without bound (ADVICE r02).

``persist_tracked`` persists and registers a DataFrame;
``release_tracked`` unpersists everything registered. The catalog's
``register`` wrapper calls ``release_tracked`` as each NEW query is
built: every consumer (driver gate, local oracle gate, bench, CLI)
builds then materializes one query before building the next, so by the
time query N+1 is constructed, query N's intermediates are dead.

Lifetime contract (narrowed in r08): releasing PERSISTED plans is
never a correctness risk — a re-execution recomputes from lineage.
Releasing CHECKPOINT-backed plans is: local checkpoints truncate
lineage, so once ``release_tracked`` frees their blocks the plan is
permanently unrecomputable (re-execution raises
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). A query result built on a
checkpoint is therefore valid only until the NEXT catalog entry is
built — see ``catalog.register``. Double-unpersist (some operators
release their own per-round intermediates eagerly) is a no-op.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_CHECKPOINTS: list["Checkpoint"] = []


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)`` + register for the next ``release_tracked``."""
    df = df.persist(level)
    _TRACKED.append(df)
    return df


def unpersist_tracked(df: DataFrame) -> None:
    """Release one ``persist_tracked`` frame now, before the next
    ``release_tracked``, and drop it from the registry."""
    try:
        df.unpersist()
    except Exception:  # session already stopped — nothing to free
        pass
    _TRACKED[:] = [d for d in _TRACKED if d is not df]


class Checkpoint:
    """Handle to a localCheckpoint'ed DataFrame whose blocks can be freed
    deterministically.

    ``Dataset.unpersist`` cannot free localCheckpoint blocks (they live
    on the internal RDD, not in the CacheManager); without a handle
    they are reclaimed only when the JVM GC happens to collect the RDD
    object and ContextCleaner's weak-ref queue drains — which a
    long-lived driver under py4j proxies may never do (the r07 full-
    suite OOM). ``release`` unpersists the internal RDD directly: the
    blocks drop immediately, no GC involved.

    After ``release`` the checkpointed plan is UNRECOMPUTABLE (local
    checkpoints truncate lineage; Spark raises
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on re-execution) — so release
    only once every plan referencing ``df`` has been materialized.
    Iterative operators release checkpoint N−1 the moment checkpoint N
    (eager) lands; the FINAL checkpoint stays registered here and is
    freed by the next ``release_tracked``, which all consumers call
    only after fully materializing the previous query.
    """

    __slots__ = ("df", "_jrdd", "_released")

    def __init__(self, df: DataFrame, jrdd) -> None:
        self.df = df
        self._jrdd = jrdd  # None → untracked fallback, GC reclaims
        self._released = False

    def release(self) -> None:
        if self._released:
            return
        self._released = True
        if self._jrdd is None:
            return
        try:
            self._jrdd.unpersist(False)
        except Exception:  # session/JVM already gone — nothing to free
            pass


def local_checkpoint_tracked(df: DataFrame) -> Checkpoint:
    """Eager ``localCheckpoint`` + a handle that frees its blocks.

    Eager (not lazy-then-persist): the checkpoint blocks themselves are
    the materialized cache, so adding a Dataset-level ``persist`` on
    top would store every row TWICE (checkpoint RDD blocks + an
    InMemoryRelation over them) — the double-storage the pre-r08
    iterative operators paid on every checkpoint round.
    """
    cp = df.localCheckpoint(eager=True)
    # The analyzed plan of a checkpointed Dataset is a LogicalRDD whose
    # ``rdd`` field IS the internal RDD holding the checkpoint blocks.
    # Private-API reach (``_jdf``/``queryExecution``): if a Spark
    # upgrade wraps the plan (extra Project/alias node) the extraction
    # breaks — degrade to an untracked checkpoint (blocks reclaimed by
    # GC/ContextCleaner, pre-r08 behavior) rather than failing every
    # iterative operator at runtime (ADVICE r08).
    try:
        jrdd = cp._jdf.queryExecution().analyzed().rdd()
    except Exception:
        jrdd = None
    handle = Checkpoint(cp, jrdd)
    _CHECKPOINTS.append(handle)
    return handle


class RoundCache:
    """Bounded per-round cache for unrolled iterative operators.

    The shared convention of BFS / SSSP / LPA / k-core / connected
    components / BPE: each round's table is referenced ≥2× by the next
    round, so it must be persisted + materialized; lineage (and the
    logical plan, which otherwise doubles per round) is truncated by a
    localCheckpoint every ``checkpoint_every`` rounds. ``advance(df)``
    applies that convention and BOUNDS resident storage: it eagerly
    materializes the round (checkpoint blocks double as the cache on
    checkpoint rounds — no second persist), unpersists the previous
    round's cache, and frees the superseded checkpoint's blocks the
    moment a newer checkpoint lands. Steady state: one round's cache +
    one live checkpoint, regardless of ``iters`` or how many operator
    calls share the JVM. The final checkpoint stays live (the returned
    plan reads it) and is freed by the next ``release_tracked``.

    Callers that run their own materializing action every round (CC's
    convergence signal, an aggregate) pass it as ``materialize``:
    advance runs it IN PLACE of the default ``count()`` — keeping the
    materialize-before-unpersist ordering — and returns ``(df, value)``
    so the round pays ONE Spark job, not count + signal (the r08
    dedup_clusters/split_group_aware +14% regression, VERDICT r08
    §wrong 2). On checkpoint rounds the eager checkpoint has already
    materialized, so ``materialize`` runs over checkpoint blocks.
    """

    __slots__ = ("every", "_round", "_prev_df", "_prev_cp")

    def __init__(self, checkpoint_every: int) -> None:
        self.every = checkpoint_every
        self._round = 0
        self._prev_df: DataFrame | None = None
        self._prev_cp: Checkpoint | None = None

    def advance(self, df: DataFrame, materialize=None):
        self._round += 1
        if self._round % self.every == 0:
            cp = local_checkpoint_tracked(df)  # eager: materializes now
            out = cp.df
            value = materialize(out) if materialize is not None else None
            if self._prev_cp is not None:
                self._prev_cp.release()
            self._prev_cp = cp
        else:
            out = persist_tracked(df)
            # Materialize before dropping the previous round: the new
            # plan reads the previous cache, and recomputing through a
            # released upstream checkpoint would raise, not just slow.
            if materialize is not None:
                value = materialize(out)
            else:
                out.count()
        if self._prev_df is not None:
            self._prev_df.unpersist()  # no-op on checkpoint-round frames
        self._prev_df = out
        return out if materialize is None else (out, value)


def release_tracked() -> int:
    """Unpersist every tracked DataFrame AND free every tracked
    checkpoint's blocks; returns how many were live."""
    n = len(_TRACKED) + len(_CHECKPOINTS)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    _TRACKED.clear()
    for handle in _CHECKPOINTS:
        handle.release()
    _CHECKPOINTS.clear()
    return n


def reclaim_jvm() -> None:
    """Reclaim JVM heap that ``unpersist`` cannot touch.

    ``localCheckpoint`` blocks (the lineage-truncation convention in the
    iterative graph/CC/BPE operators) are NOT freed by unpersisting the
    DataFrame: Spark's ContextCleaner releases them only once the
    checkpointed RDD object is unreachable AND a JVM GC enqueues its
    weak reference. In a long single-JVM session the Python-side py4j
    proxies keep thousands of Dataset/plan objects reachable until
    Python's own GC runs, so neither collector ever fires and the heap
    fills with dead checkpoint blocks and analyzed plan trees (r07: the
    full 867-test suite OOM'd an 8g driver 39 minutes in, inside a
    kcore ``localCheckpoint`` — with per-module ``release_tracked``
    already in place).

    Fix: collect Python first (drops py4j proxies, which detaches the
    JVM objects), then ask the JVM for a full GC so ContextCleaner can
    sweep. Costs one full GC (~0.1-0.5 s on an 8g heap) — callers place
    it OUTSIDE timed regions (test module teardown, oracle-gate loop,
    bench pass boundaries), never inside a measured query."""
    import gc

    gc.collect()
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            s._jvm.System.gc()
    except Exception:  # no active session / JVM gone — nothing to do
        pass
