"""Deterministic, mergeable sketches with EXACT cross-engine twins.

Spark's built-in sketches (HLL++, approx_percentile) are
engine-private: correct, but impossible to value-hash against another
engine (their driver rows are rows-only + tolerance-tested). The two
sketches here are built from the repo's md5 hash family instead, so
the full sketch state and every estimate replicate bit-for-bit in
DuckDB — approximate DATA STRUCTURES with exact VERIFICATION:

  count-min      frequency estimation: D hash rows × W counters;
                 counter(i, h_i(x) % W) += n. The shuffle carries at
                 most D·W keys however large the corpus — the
                 wordcount shuffle without the word-cardinality key
                 domain. Estimates only ever OVER-count (min over
                 rows), the property the tests lock.
  bloom filter   set membership: M bits as M/32 slot rows via bit_or
                 aggregates; K bit positions per element. The whole
                 filter is M/32 rows — broadcastable — so membership
                 probes against a corpus cost a broadcast join, not a
                 corpus shuffle. False positives possible, false
                 negatives never (locked by test + the oracle's exact
                 per-probe comparison).

Both are MERGEABLE (counter-wise add / bitmap-wise or), which is what
makes them the 100 TB prefilter shape: build per partition or per
snapshot, merge the tiny states, broadcast the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import hash32

CMS_DEPTH = 4  # hash rows
CMS_WIDTH = 1024  # counters per row

BLOOM_BITS = 1024  # M (32 slot rows)
BLOOM_HASHES = 4  # K


def cms_counters(items: DataFrame, item_col: str = "word") -> DataFrame:
    """Count-min counter table (i, bucket, c) from an item stream.

    One narrow pass: each item expands to `CMS_DEPTH` (row, bucket) pairs
    map-side, then ONE aggregation whose key domain is ≤ depth·width —
    partial aggregation collapses each task's stream to at most that
    many rows before the exchange, so shuffle volume is independent of
    both corpus size and item cardinality (the point of a sketch)."""
    pairs = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (hash32(F.col(item_col), f"cms{i}") % CMS_WIDTH).alias(
                            "bucket"
                        ),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("p")
    )
    return pairs.groupBy(F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )


def cms_estimates(
    counters: DataFrame,
    probes: DataFrame,
    item_col: str = "word",
) -> DataFrame:
    """min-over-rows count-min estimate for each probe item: probes
    expand to their depth (i, bucket) coordinates and join the counter
    table (≤ depth·width rows — broadcast), taking min(c). Missing
    counters estimate 0 (bucket never touched)."""
    coords = probes.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (hash32(F.col(item_col), f"cms{i}") % CMS_WIDTH).alias(
                            "bucket"
                        ),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select(item_col, "p.i", "p.bucket")
    return (
        coords.join(F.broadcast(counters), ["i", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("bigint").alias("cms_estimate"))
    )


def bloom_bitmap(items: DataFrame, item_col: str) -> DataFrame:
    """Bloom filter as (slot, bits) rows — slot = bit_position >> 5,
    bits = OR of (1 << (position & 31)): 32 payload bits per slot so
    the shift never reaches bit 63, where DuckDB's checked left-shift
    raises while Spark silently wraps negative (caught at first oracle
    run). At most bits/32 rows however many items went in; the bit_or
    aggregation is map-side partial like any sum."""
    positions = items.select(
        F.explode(
            F.array(
                *[
                    (hash32(F.col(item_col), f"bf{j}") % BLOOM_BITS).alias("p")
                    for j in range(BLOOM_HASHES)
                ]
            )
        ).alias("p")
    )
    return positions.select(
        (F.col("p") / 32).cast("bigint").alias("slot"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("b"),
    ).groupBy("slot").agg(F.bit_or("b").alias("bits"))


def bloom_probe(bitmap: DataFrame, probes: DataFrame, item_col: str) -> DataFrame:
    """might_contain per probe item: all K bit positions set. The
    bitmap (≤ bits/32 rows) broadcasts; a missing slot row means the
    whole 64-bit word is zero."""
    coords = probes.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    (hash32(F.col(item_col), f"bf{j}") % BLOOM_BITS).alias("p")
                    for j in range(BLOOM_HASHES)
                ]
            )
        ).alias("p"),
    ).select(
        item_col,
        (F.col("p") / 32).cast("bigint").alias("slot"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("b"),
    )
    hit = (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("b")) != 0).cast("int")
    return (
        coords.join(F.broadcast(bitmap), "slot", "left")
        .groupBy(item_col)
        .agg((F.min(hit) == 1).alias("might_contain"))
    )
