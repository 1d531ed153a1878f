"""Skew-handling operators (SCALE.md: hot keys at 100 TB).

AQE's skew-join splitting covers joins; for AGGREGATIONS over power-law
keys (word counts over web corpora are Zipfian — the flagship's own
risk) the standard fix is two-phase salted aggregation:

  phase 1: group by (key, salt) — spreads one hot key over S reducers
  phase 2: group by key — merges the S partials

Works for any algebraic aggregate (sum/count/min/max); the extra
shuffle carries only |keys|·S rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame,
    key_cols: list[str],
    salt_buckets: int = 16,
) -> DataFrame:
    """count(*) per key via two-phase salted aggregation."""
    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.count(F.lit(1)).alias("_partial")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_partial").cast("bigint").alias("count")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe inner equi-join: the fact side gets a deterministic
    salt, the (smaller) build side is replicated once per salt bucket,
    and the join runs on (key, salt) — a single hot key that would
    pin one reducer now spreads over `salt_buckets` of them.

    This is the MANUAL form of what AQE's skew-join split does at
    runtime; it exists for the cases AQE can't reach (skew invisible
    to stats, e.g. a downstream-derived key, or a build side just
    over the broadcast threshold). Cost model: build-side rows × S
    extra replication vs a reducer pinned at the hot key's row count
    — worth it whenever hot-key volume ≫ |dim| × S. The salt is
    hash-derived from the fact row's key column ONLY (no rand()):
    rows of the same key spread by partition-local monotonically
    increasing id, so the result is identical to the plain join
    regardless of salt (equivalence locked in tests)."""
    salted_fact = fact.withColumn(
        "_salt",
        F.pmod(
            F.hash(F.col(fact_key), F.monotonically_increasing_id()),
            F.lit(salt_buckets),
        ),
    )
    salts = dim.sparkSession.range(salt_buckets).select(
        F.col("id").cast("int").alias("_salt")
    )
    replicated_dim = dim.crossJoin(F.broadcast(salts))
    return salted_fact.join(
        replicated_dim,
        (salted_fact[fact_key] == replicated_dim[dim_key])
        & (salted_fact["_salt"] == replicated_dim["_salt"]),
    ).drop("_salt")
