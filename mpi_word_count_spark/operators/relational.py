"""Composite relational operators the reference lacks (SURVEY.md
§2.4-2.5 "absent — built-in in Spark") expressed as reusable
DataFrame combinators.

Scale notes: every helper here is pure Catalyst composition — no
Python in the row path — so plans pick up AQE, predicate pushdown and
broadcast decisions automatically at any data size.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number window.

    `order_by` must be a TOTAL order (include a unique tiebreaker) or
    the result is nondeterministic. The window shuffles once on
    `group_cols`; with AQE skewed groups are split automatically.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def sessionize(
    df: DataFrame,
    gap_seconds: int = 1800,
    tiebreak: str | None = None,
) -> DataFrame:
    """Batch sessionization: a new session starts when the gap to the
    previous event of the same user exceeds `gap_seconds`. Gaps are
    compared in microseconds (the timestamp's own precision), so a
    1800.5 s gap exceeds 1800 s.

    Classic lag + cumulative-sum-of-boundaries pattern: one shuffle on
    the user key, two window passes over the same partitioning (Spark
    reuses the exchange). Streaming variant: F.session_window (see
    streaming/windows.py).
    """
    order = [F.col("ts")] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy("user_id").orderBy(*order)
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > gap_seconds * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn("_new_session", is_new).withColumn(
        "session_id",
        F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).drop("_new_session")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
) -> DataFrame:
    """As-of join (Spark has no native one; SURVEY.md §2.4): for each
    left row, the single most recent right row with right_ts <= left_ts
    (direction='backward') or earliest with >= ('forward').

    Implementation: union both sides tagged, one window pass per the
    sessionize trick — avoids the O(n·m) range cross join and scales
    as a single shuffle on (on, ts). Right columns are last-value
    carried forward within each key partition.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    lcols = [c for c in left.columns if c != on]
    rcols = [c for c in right.columns if c not in (on, right_ts)]
    tagged_l = left.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in rcols],
    )
    tagged_r = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c) for c in rcols],
    )
    both = tagged_l.unionByName(tagged_r)
    if direction == "backward":
        # right rows sort before left rows at equal ts → a left row can
        # match a right row with the exact same timestamp
        w = Window.partitionBy(on).orderBy(F.col("_ts").asc(), F.col("_is_left").asc())
        fill = {c: F.last(c, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)) for c in rcols}
    else:
        w = Window.partitionBy(on).orderBy(F.col("_ts").desc(), F.col("_is_left").asc())
        fill = {c: F.last(c, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)) for c in rcols}
    out = both
    for c, expr in fill.items():
        out = out.withColumn(c, expr)
    return (
        out.filter(F.col("_is_left") == 1)
        .withColumnRenamed("_ts", left_ts)
        .drop("_is_left")
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
) -> DataFrame:
    """Range join left.val ∈ [right.lo, right.hi) via bucketized
    equi-join: both sides explode to overlapping buckets of
    `bucket_width`, equi-join on bucket id, then filter the exact
    predicate. Turns an O(n·m) theta join into a shuffle hash join —
    the standard Spark trick when ranges are bounded.
    """
    lb = left.withColumn(
        "_bucket", F.floor(F.col(left_val) / F.lit(bucket_width)).cast("long")
    )
    rb = right.withColumn(
        "_lo_b", F.floor(F.col(right_lo) / F.lit(bucket_width)).cast("long")
    ).withColumn(
        "_hi_b", F.floor(F.col(right_hi) / F.lit(bucket_width)).cast("long")
    )
    rb = rb.withColumn(
        "_bucket", F.explode(F.sequence(F.col("_lo_b"), F.col("_hi_b")))
    ).drop("_lo_b", "_hi_b")
    return (
        lb.join(rb, on="_bucket")
        .filter(
            (F.col(left_val) >= F.col(right_lo))
            & (F.col(left_val) < F.col(right_hi))
        )
        .drop("_bucket")
    )
