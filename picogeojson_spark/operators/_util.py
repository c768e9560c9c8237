"""Shared operator plumbing."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_scalar(df: DataFrame, scalar: DataFrame,
                  max_build_rows: int = 1) -> DataFrame:
    """Attach a provably row-bounded aggregate result onto every row of
    ``df`` via a broadcast nested-loop join — THE one sanctioned
    cross-join shape in this repo (the "bm25 scalar attach").

    At 100 TB the alternative spellings are all worse: a driver-side
    ``collect`` of the scalar breaks lazy single-job plans, and a
    literal-keyed equi-join does NOT survive Catalyst (FoldablePropagation
    folds the constant key and the join reverts to the same BNLJ —
    probed).  Broadcasting the 1-row build side is the correct physical
    plan; what must be guarded is that the build side can NEVER be
    unbounded.

    Guard: Catalyst's own ``LogicalPlan.maxRows`` (the analyzer's static
    row bound — ``Some(1)`` for a global aggregate, and propagated through
    Project/Filter/Join-of-scalars/pivot) must be defined and ``<=
    max_build_rows``.  The check is structural and runs at plan-build
    time: no job is triggered, and a raw scan or grouped aggregate on the
    build side raises instead of silently planning an unbounded cross
    join.  The correctness gate's plan invariant admits exactly this
    shape (a BNLJ whose broadcast child is a keys=[] aggregate) and bans
    every other BNLJ/CartesianProduct.
    """
    mr = scalar._jdf.queryExecution().analyzed().maxRows()
    if mr.isEmpty() or int(mr.get()) > int(max_build_rows):
        got = "unbounded" if mr.isEmpty() else str(int(mr.get()))
        raise ValueError(
            "attach_scalar: build side is not provably <= {} row(s) "
            "(Catalyst maxRows={}); aggregate it first — an unbounded "
            "broadcast cross join is a scale-killer".format(
                int(max_build_rows), got))
    return df.crossJoin(F.broadcast(scalar))


def spread_small_scans(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the plan gives fewer partitions
    than cores.

    Spark sizes scan partitions by bytes, so a small parquet input caps
    every downstream narrow stage — including CPU-heavy Arrow UDFs and
    hash/explode work — at 1-2 tasks. At production scale the scan has far
    more partitions than cores and this is a no-op (the probe reads the
    planned partition count; no job runs, no shuffle is added)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def checkpoint_rows(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize one round of an iterative operator: a local checkpoint
    of ``df`` plus its row count, both from the same job.

    Every round's state goes through here, so round N's plan reads round
    N-1 as a flat RDD scan and never carries earlier rounds. Persisting
    round state instead keeps each round's plan nested inside the next:
    linear growth when a round reads one frame of the round before,
    geometric when it reads two (BFS frontier + visited set, pointer
    doubling), and a few rounds later the driver runs out of heap.

    The count runs on the checkpoint's own RDD (``toRdd``): the job that
    computes the checkpoint blocks also counts them, where
    ``DataFrame.count`` would add a global aggregate and, under AQE, a
    second job. Checkpoint blocks are not in the SQL CacheManager; Spark's
    ContextCleaner drops them after the driver garbage-collects the frame.
    """
    df = df.localCheckpoint(eager=False)
    return df, df._jdf.queryExecution().toRdd().count()


@contextmanager
def pinned(*dfs: DataFrame):
    """Persist the inputs an iterative operator reads in every round (its
    edge table and node spine) for the duration of the block, and release
    them on return or on error, so nothing stays in the CacheManager once
    the operator returns. Round state never goes here: see
    :func:`checkpoint_rows`."""
    for df in dfs:
        df.persist()
    try:
        yield
    finally:
        for df in dfs:
            df.unpersist()
