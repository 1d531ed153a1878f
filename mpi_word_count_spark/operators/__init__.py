"""Operator library: each module groups one family from SURVEY.md §2."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Checkpointed DataFrames created inside operators (MinHash
# signatures, PPJoin prefix tables, PMI count tables, the surviving
# state of an iterate() loop). A lazily returned result can't free its
# own inputs — the operator doesn't know when the caller is done — so
# materialize() and iterate() hold them here and long-lived callers
# (bench loops, test sessions) call release_caches() between queries.
_HELD: list[DataFrame] = []


def _unpersist_local_ckpt(df: DataFrame) -> None:
    """Free a checkpointed DataFrame's storage blocks NOW.

    localCheckpoint keeps its materialized RDD cached with no public
    DataFrame-level unpersist; orphaned rounds otherwise sit in the
    block manager until a JVM GC lets the ContextCleaner notice them —
    measured as episodic multi-second stalls in later queries of a
    long session. Reaches the RDD through LogicalRDD (non-public
    accessor, hence the broad guard: worst case blocks free on GC as
    before), so `df` must be the checkpointed frame itself, not a
    projection over it."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _checkpoint(df: DataFrame) -> DataFrame:
    """Eager, lineage-truncating materialization: reliable checkpoint()
    when the session has a checkpoint dir (the files survive executor
    loss), localCheckpoint otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def materialize(df: DataFrame) -> DataFrame:
    """Checkpoint once a loop-invariant input that every round scans
    (an adjacency list, a symmetrized edge set), or an intermediate
    several scans of one plan read (see minhash_lsh_pairs on why not
    cache()); release_caches() frees it."""
    _HELD.append(_checkpoint(df))
    return _HELD[-1]


def iterate(state, *steps, rounds: int, every: int = 1, until=None):
    """Run `rounds` rounds of `state = step(state)` for each of `steps`
    in order: the one place round state is materialized and freed.

    Each round's plan embeds its predecessor's, so state is
    checkpointed to keep plans O(1) (dup_clusters states the measured
    analysis blow-up). With `every` = k > 0 that happens after every
    k-th round but never after the last (the result reads it lazily);
    k = 1 also checkpoints the starting state, for loops whose round
    reads its state more than once; k = 0 never, and the state may
    then be any value. A checkpointing round checkpoints after each of
    its steps.

    With `until(prev, new)` every round is checkpointed and the test
    runs on the checkpointed `new` while `prev` is still held; the loop
    stops at the first True and raises RuntimeError when no round
    within `rounds` gives one (part-merged state looks plausible and
    is wrong). `every` = 0 with `until` checkpoints every round but not
    the starting state, which the first round then reads lazily.

    Once a round is checkpointed (and tested), the loop's earlier
    checkpoints are freed; the survivor is freed by release_caches().
    On any exception everything held is freed before it propagates, so
    a catch-and-retry caller accumulates nothing."""
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(_checkpoint(df))
        return held[-1]

    try:
        if every == 1:
            state = hold(state)
        for i in range(1, rounds + 1):
            prev = state
            ckpt = until is not None or (every and i % every == 0 and i < rounds)
            for step in steps:
                state = step(state)
                if ckpt:
                    state = hold(state)
            if ckpt:
                done = until is not None and until(prev, state)
                for df in held[:-1]:
                    _unpersist_local_ckpt(df)
                del held[:-1]
                if done:
                    break
        else:
            if until is not None:
                raise RuntimeError(
                    f"did not converge within {rounds} checkpointed rounds; raise max_iters"
                )
    except BaseException:
        for df in held:
            _unpersist_local_ckpt(df)
        raise
    _HELD.extend(held)
    return state


def release_caches() -> int:
    """Free every frame materialize() and iterate() hold; returns how
    many were freed.

    A held frame's storage has no recomputable lineage: after
    release_caches() a result built over one (dup_clusters' labels,
    the PMI count tables, any query that materializes) cannot be
    re-executed. Re-derive it by calling the operator or query again
    instead of re-executing a held DataFrame reference."""
    n = len(_HELD)
    while _HELD:
        _unpersist_local_ckpt(_HELD.pop())
    return n


def widen(df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Ensure CPU-heavy per-row operators get full parallelism.

    Small parquet inputs scan as 1-2 tasks (row-group granularity), so
    a compute-bound stage (16 md5s per shingle, 60 bit-rows per term)
    would run on 1-2 of the available cores. Repartition ONLY when the
    scan is narrower than the cluster — at real scale inputs already
    have thousands of splits and this is a no-op (no shuffle added).

    The width check costs a `.rdd` call, which physically plans the
    WHOLE subtree on the driver — measured at ~2s per call when `df`
    embeds an LSH pipeline (the dedup_clusters drift, VERDICT r8
    item 2). When `df` is a narrow decoration of a base relation
    (e.g. a broadcast semi join, which preserves the probe side's
    partitioning exactly), pass that base relation as `probe`: the
    width probe then plans only the cheap scan tree while the
    repartition still applies to `df`.

    This is the moral twin of the reference's byte-balanced partition
    planner (word_count_mpi.c:246-255): equalize work across workers
    before the expensive scan loop.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    src = probe if probe is not None else df
    if src.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
