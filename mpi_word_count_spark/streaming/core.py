"""Streaming sources and the run-to-completion harness.

At production scale the sources become Kafka/Kinesis and the sinks
exactly-once `foreachBatch` writers with RocksDB state store
(spark.sql.streaming.stateStore.providerClass) — the session-window
and dedup state here is the only design surface that needs sizing at
100 TB (watermarks bound it; see SURVEY.md §7 hard-parts #5).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from mpi_word_count_spark.tables import TABLES, normalize_events_ts, raw_table


def stream_table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """File-source streaming read of a fixture table (schema pinned
    from the parquet footer — streaming reads never infer)."""
    if name not in TABLES:
        raise KeyError(name)
    # Pin the RAW on-disk schema (one footer read, memoized in the
    # batch catalog — tables.raw_table), then apply the same ts
    # normalization as the batch catalog so batch and stream plans
    # see identical column types.
    raw_schema = raw_table(spark, name, sf_dir).schema
    sdf = (
        spark.readStream.schema(raw_schema)
        # file stream sources take a directory; glob-filter the table
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    if name == "events":
        sdf = normalize_events_ts(sdf)
    return sdf


def run_to_completion(
    sdf: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming DataFrame over a finite file source until all
    input is processed; return the final result as a batch DataFrame.

    Memory sink + processAllAvailable: the local test harness for
    batch/stream parity (the production sink is foreachBatch)."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return sdf.sparkSession.table(name)
