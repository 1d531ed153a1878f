"""Streaming query builders: the engine's streaming operator surface.

Each builder returns a STREAMING DataFrame (caller picks the sink);
`run_to_completion` drives it for tests and the driver registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mpi_word_count_spark.tokenizer import tokenize


def streaming_word_count(lines: DataFrame) -> DataFrame:
    """The flagship query in streaming form — the reference's
    partition-then-merge pipeline as incremental state (complete
    mode). Same tokenize → lower → filter → count plan; Spark keeps
    the running counts in the state store instead of a per-rank hash
    map (hash_map.c:69-79)."""
    return (
        tokenize(lines)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def click_to_purchase_pairs(
    clicks: DataFrame, purchases: DataFrame, aggregate: bool = True
) -> DataFrame:
    """Stream-stream inner join: purchases within 1 hour after a click
    by the same user — the attribution-window shape; per-user counts
    when `aggregate` (chained stateful operators), raw pairs otherwise.

    Both sides carry watermarks and the join has a two-sided time
    constraint, so Spark can expire buffered rows once the watermark
    passes (state stays bounded at any input rate; without the time
    bound an inner stream-stream join buffers forever). Inner-join
    matches emit as they arrive — no watermark latency on results.
    """
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event"),
        )
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
        )
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    if not aggregate:
        return joined
    return joined.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def enriched_event_counts(
    events: DataFrame, customers: DataFrame, nations: DataFrame
) -> DataFrame:
    """Stream-static join: the event stream enriched with the
    customer→nation dimension, aggregated per nation. The static side
    broadcasts into every micro-batch (no stream-side shuffle for the
    join) — the standard streaming-enrichment shape; at scale the
    dimension is a periodically-refreshed broadcast or a Delta table
    the batch planner re-resolves per batch."""
    dim = customers.join(
        F.broadcast(nations),
        customers.c_nationkey == nations.n_nationkey,
    ).select(F.col("c_custkey").alias("user_id"), "n_name")
    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def tumbling_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling-window counts per event_type with a watermark bounding
    late data (and therefore state size — the 100 TB knob).
    watermark=None → complete-mode variant (finite backfill runs)."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Sliding-window (overlapping) counts — each event lands in
    window/slide buckets. watermark=None → complete-mode variant."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Session windows (gap-merged) per user — the streaming twin of
    operators/relational.sessionize. watermark=None → complete mode
    for finite backfills."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "user_id",
            "n_events",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY.md
    §2.8 — the runtime twin of the reference's compile-time `item`
    aggregation interface, item.h:1-8): per-user running event count
    and value sum kept in explicit state, re-emitted on every update.

    At scale: state is (2 numbers × |users|) in the state store
    (RocksDB provider at 100 TB); Arrow-batched per group. Output mode
    must be `update`.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(v, 2)],
            }
        )

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, v double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: first-seen wins per content hash.
    With event-time bounds use dropDuplicatesWithinWatermark so state
    is evicted; the unbounded variant is for finite backfills."""
    hashed = docs.select(F.md5(F.col("text")).alias("content_hash"))
    return hashed.dropDuplicates(["content_hash"])


def streaming_incremental_dedup(
    batch_docs: DataFrame, corpus_hashes: DataFrame
) -> DataFrame:
    """Streaming ingest dedup against a persisted corpus: each
    micro-batch of new documents is anti-joined against the static
    already-deduplicated corpus (stream-static LEFT ANTI on the
    16-byte content hash — corpus side broadcast), then a stateful
    min-doc_id aggregation picks ONE deterministic survivor per
    content hash across the whole stream (in-batch and cross-batch
    duplicates collapse in the state store).

    This is the streaming twin of operators/dedup.incremental_exact_
    dedup: the snapshot-batch classification becomes continuous
    ingest. At scale the corpus side is a hash index (content_hash
    only — never text), and state holds one (hash, min_id) pair per
    NOVEL document, not per arriving row."""
    hashed = batch_docs.select(
        F.md5(F.col("text")).alias("content_hash"), F.col("doc_id")
    )
    fresh = hashed.join(F.broadcast(corpus_hashes), "content_hash", "left_anti")
    return fresh.groupBy("content_hash").agg(
        F.min("doc_id").alias("survivor_doc_id")
    )


def streaming_embedding_dedup(
    stream_vecs: DataFrame,
    corpus_buckets: DataFrame,
    corpus_vecs: DataFrame,
    threshold: float = 0.4,
) -> DataFrame:
    """Continuous-ingest SEMANTIC dedup vs a persisted embedding
    corpus — the streaming face of incremental_embedding_dups: each
    arriving vector is banded scan-local (hyperplane LSH), LEFT-joined
    against the static corpus bucket store (broadcast), candidates
    verified with exact cosine against the static corpus vectors
    (broadcast), then ONE stateful aggregation per stream vector
    classifies it dup_of_corpus / unique with the smallest matching
    corpus id.

    n_collisions counts (band, candidate) collision rows that pass τ —
    a pair colliding in k bands counts k (keeping the plan at ONE
    stateful aggregation; streams disallow distinct aggregates).
    In-stream (batch-vs-batch) pairing is the batch twin's job; at
    unbounded scale, bound pre-dedup state upstream with
    dropDuplicatesWithinWatermark on the vector id.

    State: one (dup_of, n, max_cos) triple per stream vector; the
    corpus contributes only its bucket store (num_bands longs/vector)
    and candidate-row vector reads — never re-banded, never shuffled.

    Optimization r10 (guide §2.3/§3.3, measured 14.9 s → see
    OPTIMIZATION_r10.md): (1) the stream side repartitions its banded
    rows to full parallelism — a single-file local micro-batch scans
    as ONE task, which serialized the whole candidate fan-out and its
    cosine folds onto one core (at production scale arriving batches
    are already wide and this is a batch-sized, bounded shuffle);
    (2) the two static broadcasts (bucket store, corpus vectors) are
    denormalized into ONE broadcast relation so the candidate join is
    a single stream-static broadcast join; (3) cosine is evaluated
    once per PAIR instead of once per (band, pair) collision row: the
    store carries each corpus vector's full bucket array, a pair is
    kept only on its FIRST colliding band, and the per-row collision
    count is reconstructed exactly as size(matching bands) — the
    stateful aggregate sums those sizes, so n_collisions/dup_of/
    max_cosine are bit-identical to the per-row form (oracle-proven);
    (4) the stream vector's norm is computed once per vector before
    banding, not once per candidate row.
    """
    from mpi_word_count_spark.functions.vector import dot, norm
    from mpi_word_count_spark.operators.dedup import NUM_EMB_BANDS, embedding_band_keys

    vecs = stream_vecs.select(
        F.col("vec_id"),
        F.col("embedding"),
        norm(F.col("embedding")).alias("_vnorm"),
    )
    bands = embedding_band_keys(
        vecs, extra_cols=("embedding", "_vnorm"), with_all="_vbuckets"
    )
    bands = bands.repartition(
        stream_vecs.sparkSession.sparkContext.defaultParallelism
    )
    # ONE denormalized broadcast: store rows joined with their vector
    # and per-vector bucket array (reconstructed from the store itself
    # — the corpus is NOT re-banded). All model-sized, built once per
    # micro-batch trigger on the static side.
    obuckets = (
        corpus_buckets.groupBy("_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("band", "bucket"))),
                lambda s: s["bucket"],
            ).alias("_obuckets")
        )
    )
    # the (band, bucket) rows are re-derived from the per-vector array
    # (pure re-slicing, the store is still never re-banded), so the
    # build is one aggregation + one broadcast-hinted join + explode
    # instead of agg + two shuffle joins — streaming plans get no AQE,
    # so every avoided exchange here is a whole stage saved per trigger
    store = (
        obuckets.join(
            F.broadcast(
                corpus_vecs.select(
                    F.col("vec_id").alias("_id"),
                    F.col("embedding").alias("_ovec"),
                    norm(F.col("embedding")).alias("_onorm"),
                )
            ),
            "_id",
        )
        .select(
            F.col("_id").alias("other"),
            F.posexplode("_obuckets").alias("band", "bucket"),
            "_obuckets",
            "_ovec",
            "_onorm",
        )
        .select("other", "band", "bucket", "_obuckets", "_ovec", "_onorm")
    )
    joined = bands.join(F.broadcast(store), ["band", "bucket"], "left")
    band_matches = F.filter(
        F.expr(f"sequence(0, {NUM_EMB_BANDS - 1})"),
        lambda i: F.col("_vbuckets")[i] == F.col("_obuckets")[i],
    )
    first_band = F.element_at(band_matches, 1)
    scored = joined.filter(
        F.col("other").isNull() | (first_band == F.col("band"))
    ).select(
        F.col("_id").alias("vec_id"),
        F.col("other"),
        F.round(
            dot(F.col("embedding"), F.col("_ovec"))
            / (F.col("_vnorm") * F.col("_onorm")),
            4,
        ).alias("cosine"),
        F.size(band_matches).cast("long").alias("_n_bands"),
    )
    hit = F.col("cosine") >= threshold
    agg = scored.groupBy("vec_id").agg(
        F.min(F.when(hit, F.col("other"))).alias("dup_of"),
        F.coalesce(
            F.sum(F.when(hit, F.col("_n_bands"))), F.lit(0).cast("long")
        ).alias("n_collisions"),
        F.max(F.when(hit, F.col("cosine"))).alias("max_cosine"),
    )
    return agg.select(
        "vec_id",
        "dup_of",
        F.when(F.col("dup_of").isNotNull(), F.lit("dup_of_corpus"))
        .otherwise(F.lit("unique"))
        .alias("status"),
        "n_collisions",
        "max_cosine",
    )


def windowed_rule_counts(
    events: DataFrame,
    rules,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Streaming data-quality monitor: the batch validation gate's
    predicate rules (operators/validation.Rule) as per-tumbling-window
    violation counters — the alerting complement of the one-shot
    `data_quality_report` publish gate. All rules share ONE windowed
    aggregate (a counter column per rule), so rule count never
    multiplies state: per-window state is rules+1 longs, bounded by
    the watermark exactly like any windowed count. Returns the WIDE
    form (one row per window); callers stack to (rule, violations)
    rows after the stream completes."""
    from pyspark.sql import functions as F

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    aggs = [
        F.sum(F.when(r.violated, 1).otherwise(0)).alias(r.name)
        for r in rules
    ]
    return (
        events.groupBy(F.window("ts", window).alias("w"))
        .agg(*aggs, F.count(F.lit(1)).alias("checked"))
        .select(F.col("w.start").alias("window_start"), "*")
        .drop("w")
    )


def click_attribution_outer(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click emits —
    matched pairs immediately, UNMATCHED clicks as null-padded rows
    once the watermark passes the end of their 1-hour attribution
    window (the state-expiry emission inner joins never exercise;
    Spark's no-data micro-batches flush the final expirations when a
    finite source drains). State stays bounded exactly as in the
    inner form: two-sided watermarks + the time-bound join condition.
    """
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event"),
        )
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )


def streaming_holt_forecast(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch Holt smoother (queries/
    stats_queries.py events_holt_trend): a custom stateful operator
    keeps (level, trend, n_hours) per event type in explicit state
    and folds each arriving batch's hourly milli-exact sums through
    the identical α=1/4, β=1/8 recurrence, re-emitting the one-step
    forecast on every update — the live-forecast shape of the batch
    query.

    Batch-parity contract: events within a batch are ordered by
    (ts, event_id) and bucketed to hours inside the fold, so over the
    finite one-batch fixture the emitted state equals the batch
    recurrence exactly (shared oracle). Across batches the fold
    assumes hour-aligned batch boundaries (a production deployment
    puts a watermarked hourly pre-aggregation upstream, or holds the
    open hour in state); state is 3 numbers × |event types| — RocksDB
    scale is trivial."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ALPHA, BETA = 0.25, 0.125

    def r4(x: float) -> float:
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    def update(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts", "event_id"])
        hours = rows["ts"].dt.floor("h")
        milli = (
            (rows["value"].to_numpy() * 1000 + 0.5)
        )
        import numpy as np

        milli = np.floor(milli).astype("int64")
        hourly = pd.Series(milli).groupby(hours.to_numpy()).sum()
        ys = [float(v) / 1000.0 for v in hourly]
        if state.exists:
            lev, tr, n = state.get
        else:
            lev, tr, n = ys[0], 0.0, 1
            ys = ys[1:]
        for y in ys:
            new_l = ALPHA * y + (1 - ALPHA) * (lev + tr)
            tr = BETA * (new_l - lev) + (1 - BETA) * tr
            lev = new_l
            n += 1
        state.update((lev, tr, n))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_hours": [n],
                "level": [r4(lev)],
                "trend": [r4(tr)],
                "forecast_next": [r4(lev + tr)],
            }
        )

    return (
        events.select("event_type", "ts", "event_id", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "event_type string, n_hours long, level double, "
                "trend double, forecast_next double"
            ),
            stateStructType="level double, trend double, n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
