"""Fixture-table catalog: load the driver's parquet star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table
under /root/testdata/sf{0.001,0.01,0.1}/.

At 100 TB these would be multi-file partitioned datasets; the same
`spark.read.parquet` call handles both (file listing, split planning,
predicate pushdown and column pruning are source-level features).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to a plain UTC TIMESTAMP.

    events.ts is parquet TIMESTAMP(NANOS). Depending on the Spark
    version/confs in play it surfaces as one of:
      - bigint        (legacy nanosAsLong readers): int64 nanos —
        truncate with integer div (the float path rounds at this
        magnitude), then timestamp_micros;
      - timestamp_ntz (Spark 4.x default): already micro-truncated —
        reinterpret in the session zone (UTC, session.py) so it equals
        DuckDB's naive-UTC reading bit-for-bit;
      - timestamp     : already normalized, pass through.
    Works identically on batch and streaming DataFrames; downstream
    code never sees TIMESTAMP_NTZ or raw nanos.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Resolved-relation memo, keyed (session, sf_dir, name) — the
# catalog behavior (optimization r11, guide §6 file-listing reuse).
# Every `spark.read.parquet` call re-lists the path and re-reads
# parquet footers for the schema: measured ~125 ms per call on the
# driver, paid 1-3× per query BUILD (inside the bench's timed
# region). A real deployment resolves tables through a catalog, which
# caches exactly this (Spark's session catalog holds the resolved
# relation; Iceberg/Delta keep manifests for the same reason — §6).
# NOTHING about the data is cached: the memoized object is an
# UNEXECUTED lazy plan and every execution scans parquet from storage.
# Keyed by the owning session, not the application: a relation is
# bound to the session that read it and runs on that session's conf,
# so a sibling from spark.newSession() (same application, its own
# shuffle/AQE settings) must resolve its own, and a session
# recreated after stop() is a new object that never sees a stale
# relation (the stopped one's few lazy plans stay in the memo until
# the process exits). Assumes the fixture datasets are immutable
# while a session lives: a file added to or rewritten under a
# memoized path is not picked up (the listing and schema are the
# ones read first).
_RESOLVED: dict[tuple[SparkSession, str, str], DataFrame] = {}


def raw_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """The memoized RAW relation (on-disk schema, no normalization) —
    table()'s source, also the schema authority for stream_table."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (spark, os.path.abspath(sf_dir), name)
    df = _RESOLVED.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        _RESOLVED[key] = df
    return df


def table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    df = raw_table(spark, name, sf_dir)
    if name == "events":
        df = normalize_events_ts(df)
    return df
