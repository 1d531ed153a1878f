"""Streaming queries registered for the driver gate: each runs a
Structured Streaming job over the fixture files to completion and is
verified against a BATCH SQL oracle — batch/stream parity is the
correctness claim (same logical query, incremental execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.registry import register, sql_regex
from mpi_word_count_spark.streaming.core import run_to_completion, stream_table
from mpi_word_count_spark.streaming.queries import (
    enriched_event_counts,
    session_event_counts,
    sliding_event_counts,
    stateful_user_totals,
    streaming_dedup,
    streaming_word_count,
    tumbling_event_counts,
)


@register(
    "streaming_wordcount",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM (
        SELECT lower(unnest(regexp_split_to_array(text, '{sql_regex()}'))) AS word
        FROM documents
    ) WHERE word <> ''
    GROUP BY word
    """,
)
def q_streaming_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query, streaming execution (complete mode)."""
    lines = stream_table(spark, "documents", sf_dir)
    return run_to_completion(streaming_word_count(lines), "complete")


@register(
    "streaming_click_attribution",
    oracle="""
    SELECT c.user_id, count(*) AS n_pairs
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY c.user_id
    """,
)
def q_streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution within
    1 hour), verified against the identical batch join. The pair
    stream runs in append mode; the per-user rollup aggregates the
    completed stream output (one batch agg over the sink)."""
    from mpi_word_count_spark.streaming.queries import click_to_purchase_pairs

    clicks = stream_table(spark, "events", sf_dir)
    purchases = stream_table(spark, "events", sf_dir)
    pairs = click_to_purchase_pairs(clicks, purchases, aggregate=False)
    done = run_to_completion(pairs, "append")
    return done.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@register(
    "streaming_enriched_counts",
    oracle="""
    SELECT n_name,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    """,
)
def q_streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join (streaming enrichment), verified
    against the identical batch join."""
    from mpi_word_count_spark.tables import table

    ev = stream_table(spark, "events", sf_dir)
    res = enriched_event_counts(
        ev, table(spark, "customer", sf_dir), table(spark, "nation", sf_dir)
    )
    return run_to_completion(res, "complete")


@register(
    "streaming_tumbling_counts",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type, streaming execution."""
    ev = stream_table(spark, "events", sf_dir)
    res = run_to_completion(
        tumbling_event_counts(ev, window="1 hour", watermark=None), "complete"
    )
    return res.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "streaming_sliding_counts",
    oracle="""
    SELECT CAST((CAST(floor(epoch(e.ts) / 1800) AS BIGINT) - s.off) * 1800000000
                AS BIGINT) AS window_start_us,
           e.event_type,
           count(*) AS n
    FROM events e
    CROSS JOIN (SELECT 0 AS off UNION ALL SELECT 1) s
    GROUP BY 1, 2
    """,
)
def q_streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min: every event lands in exactly
    2 overlapping epoch-aligned windows (starts floor(t/30m)*30m and
    that minus 30m) — the oracle materializes both per event."""
    ev = stream_table(spark, "events", sf_dir)
    res = run_to_completion(
        sliding_event_counts(ev, window="1 hour", slide="30 minutes", watermark=None),
        "complete",
    )
    return res.select(
        F.unix_micros("window_start").alias("window_start_us"), "event_type", "n"
    )


@register(
    "streaming_session_counts",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    s AS (
        SELECT user_id, ts,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM g
    )
    SELECT epoch_us(min(ts)) AS session_start_us,
           user_id,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def q_streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window (30-min gap) per user, streaming execution —
    must equal the batch sessionize operator (same gap semantics)."""
    ev = stream_table(spark, "events", sf_dir)
    return run_to_completion(
        session_event_counts(ev, gap="30 minutes", watermark=None), "complete"
    )


@register(
    "streaming_stateful_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals. The finite fixture arrives as one batch, so each
    user emits exactly one update row — equal to the batch aggregate."""
    ev = stream_table(spark, "events", sf_dir)
    return run_to_completion(stateful_user_totals(ev), "update")


@register(
    "streaming_dedup",
    oracle="SELECT DISTINCT md5(text) AS content_hash FROM documents",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen dedup by content hash (append mode)."""
    docs = stream_table(spark, "documents", sf_dir)
    return run_to_completion(streaming_dedup(docs), "append")


STREAM_BATCH_MOD = 5  # streamed "new docs" = doc_id % 5 == 0 (matches
# the batch incremental_exact_dedup split, dedup_queries.BATCH_MOD)


@register(
    "streaming_incremental_dedup",
    oracle=f"""
    WITH batch AS (
        SELECT md5(text) AS content_hash, min(doc_id) AS survivor_doc_id
        FROM documents WHERE doc_id % {STREAM_BATCH_MOD} = 0
        GROUP BY 1
    ),
    corpus AS (
        SELECT DISTINCT md5(text) AS content_hash
        FROM documents WHERE doc_id % {STREAM_BATCH_MOD} <> 0
    )
    SELECT b.content_hash, b.survivor_doc_id
    FROM batch b LEFT JOIN corpus c ON b.content_hash = c.content_hash
    WHERE c.content_hash IS NULL
    """,
)
def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup vs a persisted corpus: stream-static
    LEFT ANTI join on content hash (corpus broadcast) + stateful
    min-id survivor aggregation, verified against the identical batch
    SQL. Complete mode (finite backfill); unbounded ingest would bound
    state with dropDuplicatesWithinWatermark upstream."""
    from mpi_word_count_spark.streaming.queries import streaming_incremental_dedup
    from mpi_word_count_spark.tables import table

    stream = stream_table(spark, "documents", sf_dir).filter(
        F.col("doc_id") % STREAM_BATCH_MOD == 0
    )
    corpus_hashes = (
        table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % STREAM_BATCH_MOD != 0)
        .select(F.md5(F.col("text")).alias("content_hash"))
        .distinct()
    )
    return run_to_completion(
        streaming_incremental_dedup(stream, corpus_hashes), "complete"
    )


def _streaming_embedding_dedup_oracle() -> str:
    from mpi_word_count_spark.queries.dedup_queries import (
        COSINE_DUP_THRESHOLD,
        sql_embedding_bands,
    )

    return f"""
    WITH bands AS (
{sql_embedding_bands()}
    ),
    flags AS (
        SELECT vec_id, vec_id % {STREAM_BATCH_MOD} = 0 AS is_batch
        FROM embeddings
    ),
    tb AS (
        SELECT b.* FROM bands b JOIN flags f ON b.vec_id = f.vec_id
        WHERE f.is_batch
    ),
    tc AS (
        SELECT b.* FROM bands b JOIN flags f ON b.vec_id = f.vec_id
        WHERE NOT f.is_batch
    ),
    coll AS (
        SELECT bb.vec_id AS did, o.vec_id AS other,
               round(list_cosine_similarity(e1.embedding::DOUBLE[],
                                            e2.embedding::DOUBLE[]), 4)
                   AS cosine
        FROM tb bb
        JOIN tc o ON bb.band = o.band AND bb.bucket = o.bucket
        JOIN embeddings e1 ON e1.vec_id = bb.vec_id
        JOIN embeddings e2 ON e2.vec_id = o.vec_id
    )
    SELECT f.vec_id,
           min(CASE WHEN c.cosine >= {COSINE_DUP_THRESHOLD}
                    THEN c.other END) AS dup_of,
           CASE WHEN min(CASE WHEN c.cosine >= {COSINE_DUP_THRESHOLD}
                              THEN c.other END) IS NOT NULL
                THEN 'dup_of_corpus' ELSE 'unique' END AS status,
           CAST(count(CASE WHEN c.cosine >= {COSINE_DUP_THRESHOLD}
                           THEN 1 END) AS BIGINT) AS n_collisions,
           max(CASE WHEN c.cosine >= {COSINE_DUP_THRESHOLD}
                    THEN c.cosine END) AS max_cosine
    FROM flags f LEFT JOIN coll c ON c.did = f.vec_id
    WHERE f.is_batch
    GROUP BY f.vec_id
    """


@register(
    "streaming_embedding_dedup", oracle=_streaming_embedding_dedup_oracle()
)
def q_streaming_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest semantic dedup (vectors with vec_id % 5 == 0
    play the arriving stream): hyperplane-LSH banding on the stream,
    stream-static LEFT joins against the broadcast corpus bucket
    store + corpus vectors, exact-cosine verification, one stateful
    per-vector aggregation — the streaming face of
    incremental_embedding_dups, verified against the identical batch
    SQL."""
    from mpi_word_count_spark.operators.dedup import embedding_band_keys
    from mpi_word_count_spark.tables import table
    from mpi_word_count_spark.queries.dedup_queries import (
        COSINE_DUP_THRESHOLD,
    )
    from mpi_word_count_spark.streaming.queries import (
        streaming_embedding_dedup,
    )

    stream = stream_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") % STREAM_BATCH_MOD == 0
    )
    corpus = table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") % STREAM_BATCH_MOD != 0
    )
    return run_to_completion(
        streaming_embedding_dedup(
            stream,
            corpus_buckets=embedding_band_keys(corpus),
            corpus_vecs=corpus,
            threshold=COSINE_DUP_THRESHOLD,
        ),
        "complete",
    )


def _synth_stream_oracle() -> str:
    from mpi_word_count_spark.sources.synthetic import sql_synth_corpus_cte

    return f"""
    WITH {sql_synth_corpus_cte(1000, "synth")}
    SELECT word, count(*) AS count
    FROM synth_words GROUP BY word
    """


@register("streaming_synth_wordcount", oracle=_synth_stream_oracle())
def q_streaming_synth_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python streaming connector (SimpleDataSourceStreamReader)
    through the flagship pipeline: the `synthcorpus` source emits
    doc_id-watermark micro-batches (200 docs each → 5 batches), the
    word-count aggregation folds them incrementally in complete mode,
    and the result must equal the batch corpus — batch/stream parity
    over a user-defined source, value-hash-verified."""
    from mpi_word_count_spark.sources.synthetic import register_synth_source
    from mpi_word_count_spark.streaming.queries import streaming_word_count

    register_synth_source(spark)
    corpus = (
        spark.readStream.format("synthcorpus")
        .option("n_docs", 1000)
        .option("seed", "synth")
        .option("batch_docs", 200)
        .load()
    )
    return run_to_completion(streaming_word_count(corpus), "complete")


@register(
    "streaming_quality_windows",
    oracle="""
    WITH w AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
               CAST(sum(CASE WHEN value IS NULL OR value < 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS value_nonneg,
               CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)
                    AS BIGINT) AS value_outlier,
               CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS type_nonnull,
               count(*) AS checked
        FROM events GROUP BY 1
    )
    SELECT window_start_us, 'value_nonneg' AS rule,
           value_nonneg AS violations, checked FROM w
    UNION ALL
    SELECT window_start_us, 'value_outlier', value_outlier, checked FROM w
    UNION ALL
    SELECT window_start_us, 'type_nonnull', type_nonnull, checked FROM w
    """,
)
def q_streaming_quality_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality gate as a streaming monitor: per-hour violation
    counters over the event stream (one shared windowed aggregate for
    all rules — state is rules+1 longs per window). The value_outlier
    rule (> 100) genuinely fires on the fixture, so the hash verifies
    detection, not just plumbing."""
    from mpi_word_count_spark.operators.validation import Rule
    from mpi_word_count_spark.streaming.queries import windowed_rule_counts

    ev = stream_table(spark, "events", sf_dir)
    rules = [
        Rule("value_nonneg", F.col("value").isNull() | (F.col("value") < 0)),
        Rule("value_outlier", F.col("value") > 100),
        Rule("type_nonnull", F.col("event_type").isNull()),
    ]
    wide = windowed_rule_counts(ev, rules, window="1 hour", watermark=None)
    done = run_to_completion(wide, "complete")
    stacked = ", ".join(f"'{r.name}', {r.name}" for r in rules)
    return done.selectExpr(
        "unix_micros(window_start) AS window_start_us",
        f"stack({len(rules)}, {stacked}) AS (rule, violations)",
        "checked",
    )


@register(
    "streaming_trending_words",
    oracle=f"""
    WITH wc AS (
        SELECT (doc_id // 60) * 3600000000 AS window_start_us,
               word,
               CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT doc_id,
                   lower(unnest(regexp_split_to_array(text, '{{rx}}'))) AS word
            FROM documents
        ) t
        WHERE word <> ''
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT window_start_us, word, n,
               row_number() OVER (PARTITION BY window_start_us
                                  ORDER BY n DESC, word) AS rank
        FROM wc
    )
    SELECT window_start_us, CAST(rank AS INT) AS rank, word, n
    FROM ranked WHERE rank <= 3
    """.replace("{{rx}}", "{rx}").replace("{rx}", sql_regex()),
)
def q_streaming_trending_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending words: the flagship tokenization as a STREAMING
    windowed aggregation — each document carries a deterministic
    event time (doc_id minutes since epoch), word counts accumulate
    per 1-hour tumbling window in complete mode, and the per-window
    top-3 ranking runs as one batch pass over the completed sink
    (rank-in-stream would need complete-mode sorting per trigger;
    ranking the materialized window counts is the production shape —
    the same split click attribution uses for its rollup)."""
    from mpi_word_count_spark.streaming.core import run_to_completion, stream_table
    from mpi_word_count_spark.operators.relational import topk_per_group
    from mpi_word_count_spark.tokenizer import tokenize

    docs = stream_table(spark, "documents", sf_dir).withColumn(
        "ts", F.timestamp_micros(F.col("doc_id") * 60_000_000)
    )
    toks = tokenize(docs, col="text", keep=["ts"])
    counts = toks.groupBy(
        F.window("ts", "1 hour").alias("w"), "word"
    ).agg(F.count(F.lit(1)).alias("n"))
    done = run_to_completion(
        counts.select(
            F.unix_micros("w.start").alias("window_start_us"), "word", "n"
        ),
        "complete",
    )
    return topk_per_group(
        done,
        ["window_start_us"],
        [F.desc("n"), F.asc("word")],
        k=3,
        rank_col="rank",
    ).select("window_start_us", F.col("rank").cast("int").alias("rank"), "word", "n")


@register(
    "streaming_unattributed_clicks",
    oracle="""
    WITH wm AS (
        SELECT least(
                   (SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase')
               ) - INTERVAL 210 MINUTE AS cutoff
    ),
    c AS (
        SELECT user_id, ts, event_id FROM events, wm
        WHERE event_type = 'click' AND ts < wm.cutoff
    ),
    m AS (
        SELECT c.user_id, c.event_id,
               count(p.event_id) AS n_purch
        FROM c LEFT JOIN events p
          ON p.event_type = 'purchase' AND p.user_id = c.user_id
         AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(CASE WHEN n_purch > 0 THEN 1 END) AS BIGINT)
               AS n_attributed,
           CAST(count(CASE WHEN n_purch = 0 THEN 1 END) AS BIGINT)
               AS n_unattributed
    FROM m GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_streaming_unattributed_clicks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics the
    inner attribution join can't show: a click with NO purchase in
    its 1-hour window emits as a null-padded row only when the
    watermark passes the window end (state-expiry emission). The
    batch oracle can only see clicks whose expiry provably happened
    before the finite stream drained, so both sides restrict to
    clicks older than least(max click ts, max purchase ts) − 3.5h —
    strictly inside the final join watermark (min of the two 2-hour
    side watermarks) plus the 1-hour window, with 30 minutes of
    margin so no row sits on the expiry boundary. Within the cutoff,
    stream and batch agree exactly: per-user attributed vs
    unattributed click counts."""
    from mpi_word_count_spark.streaming.queries import (
        click_attribution_outer,
    )
    from mpi_word_count_spark.tables import table

    clicks = stream_table(spark, "events", sf_dir)
    purchases = stream_table(spark, "events", sf_dir)
    pairs = run_to_completion(
        click_attribution_outer(clicks, purchases), "append"
    )
    ev = table(spark, "events", sf_dir)
    cutoff = (
        ev.agg(
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("m")
        )
        .select(
            (F.col("m") - F.expr("INTERVAL 210 MINUTE")).alias("cutoff")
        )
    )
    flagged = (
        pairs.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_ts") < F.col("cutoff"))
        .groupBy("c_user", "c_event")
        .agg(F.count("p_event").alias("n_purch"))
    )
    return (
        flagged.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.when(F.col("n_purch") > 0, 1)).alias("n_attributed"),
            F.count(F.when(F.col("n_purch") == 0, 1)).alias(
                "n_unattributed"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "attribution_model_comparison",
    oracle="""
    WITH touches AS (
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               row_number() OVER (
                   PARTITION BY p.event_id ORDER BY c.ts ASC, c.event_id ASC
               ) AS rn_first,
               row_number() OVER (
                   PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC
               ) AS rn_last
        FROM events p
        JOIN events c
          ON c.event_type = 'click' AND c.user_id = p.user_id
         AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 24 HOUR
        WHERE p.event_type = 'purchase'
    ),
    credit AS (
        SELECT purchase_id,
               max(CASE WHEN rn_first = 1 THEN click_id END) AS first_click,
               max(CASE WHEN rn_last = 1 THEN click_id END) AS last_click
        FROM touches GROUP BY 1
    ),
    shared AS (
        SELECT CAST(count(CASE WHEN first_click = last_click THEN 1 END)
                    AS BIGINT) AS n_single_touch
        FROM credit
    )
    SELECT model, n_purchases, n_credited_clicks, n_single_touch FROM (
        SELECT 'first_touch' AS model,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(count(DISTINCT first_click) AS BIGINT)
                   AS n_credited_clicks
        FROM credit
        UNION ALL
        SELECT 'last_touch', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT last_click) AS BIGINT)
        FROM credit
    ) CROSS JOIN shared
    ORDER BY model
    """,
)
def q_attribution_model_comparison(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch vs last-touch attribution over the click→purchase
    graph (24-hour lookback): per purchase, the earliest and latest
    preceding click by the same user — deterministic tie-breaks on
    (ts, event_id) both directions — rolled up to how many purchases
    each model attributes, how many DISTINCT clicks receive credit
    under each (last-touch concentrates credit on fewer clicks when
    users re-click), and how many purchases are single-touch (the
    population where model choice cannot matter). The marketing-
    analytics twin of the streaming attribution joins, batch form.

    Scale shape: the user-keyed interval join is time-bounded (the
    same constraint that bounds streaming state bounds batch fan-out:
    per purchase, only that user's clicks in 24h); BOTH rankings ride
    one window pass over the touch table; output is 2 rows."""
    from mpi_word_count_spark.tables import table
    from pyspark.sql.window import Window

    ev = table(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touches = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOUR")),
    )
    w_first = Window.partitionBy("purchase_id").orderBy(
        F.col("c_ts").asc(), F.col("click_id").asc()
    )
    w_last = Window.partitionBy("purchase_id").orderBy(
        F.col("c_ts").desc(), F.col("click_id").desc()
    )
    ranked = touches.select(
        "purchase_id",
        "click_id",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
    )
    credit = ranked.groupBy("purchase_id").agg(
        F.max(F.when(F.col("rn_first") == 1, F.col("click_id"))).alias(
            "first_click"
        ),
        F.max(F.when(F.col("rn_last") == 1, F.col("click_id"))).alias(
            "last_click"
        ),
    )
    shared = credit.agg(
        F.count(
            F.when(F.col("first_click") == F.col("last_click"), 1)
        ).alias("n_single_touch")
    )
    first = credit.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.countDistinct("first_click").alias("n_credited_clicks"),
    ).select(F.lit("first_touch").alias("model"), "n_purchases", "n_credited_clicks")
    last = credit.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.countDistinct("last_click").alias("n_credited_clicks"),
    ).select(F.lit("last_touch").alias("model"), "n_purchases", "n_credited_clicks")
    return (
        first.unionByName(last)
        .crossJoin(F.broadcast(shared))
        .orderBy("model")
    )


@register(
    "streaming_dynamic_sessions",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_id,
               epoch(ts) + (CASE WHEN event_type = 'click' THEN 900
                                 WHEN event_type = 'view' THEN 900
                                 WHEN event_type = 'purchase' THEN 3600
                                 WHEN event_type = 'refund' THEN 3600
                                 ELSE 1800 END) AS expiry
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id,
               CASE WHEN max(expiry) OVER (
                        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR epoch(ts) >= max(expiry) OVER (
                        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS is_new
        FROM g
    )
    SELECT user_id,
           CAST(sum(is_new) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM marked GROUP BY user_id ORDER BY user_id
    """,
)
def q_streaming_dynamic_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic-gap session windows under STREAMING execution — the
    state-merging case fixed gaps never hit: as events arrive out of
    micro-batch order within the watermark, the state store must
    merge session windows whose extents depend on each member event's
    own gap. Complete mode over the finite source; the oracle is the
    identical running-max-of-expiry batch recurrence, so streaming
    merge behavior is value-hash-verified against batch semantics
    (and dynamic_gap_sessions proves the same oracle against the
    batch session_window)."""
    from mpi_word_count_spark.queries.relational_queries import _dyn_gap_sql

    ev = stream_table(spark, "events", sf_dir)
    gap_col = F.concat(
        F.expr(_dyn_gap_sql("event_type")), F.lit(" seconds")
    )
    sess = (
        ev.groupBy(F.session_window("ts", gap_col).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    done = run_to_completion(sess, "complete")
    return (
        done.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


def _streaming_manifest_oracle() -> str:
    from mpi_word_count_spark.sources.synthetic import sql_synth_corpus_cte

    return f"""
    WITH {sql_synth_corpus_cte(1000, "synth")},
    docs AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY i) AS text
        FROM synth_words GROUP BY doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(5 AS BIGINT) AS n_commits
    FROM docs
    """


@register("streaming_manifest_ingest", oracle=_streaming_manifest_oracle())
def q_streaming_manifest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming ingestion through the custom writer: the
    synth connector's 5 micro-batches each commit one manifest
    snapshot via foreachBatch, with the batch id recorded in the
    manifest so a REPLAYED batch (sink committed, checkpoint WAL
    didn't) no-ops instead of double-appending: idempotence lives in
    the commit protocol itself (replay's orphan files are vacuum
    fodder, never data). The final snapshot must contain every document
    exactly once, and the manifest version count must equal the batch
    count; the oracle regenerates the corpus in SQL."""
    import shutil

    from mpi_word_count_spark.queries.wordcount_queries import _scratch_path
    from mpi_word_count_spark.sources.manifest_sink import (
        read_manifest,
        read_manifest_jsonl,
        register_manifest_sink,
    )
    from mpi_word_count_spark.sources.synthetic import register_synth_source

    register_synth_source(spark)
    register_manifest_sink(spark)
    path = _scratch_path(sf_dir, "stream_manifest_ingest")
    shutil.rmtree(path, ignore_errors=True)
    stream = (
        spark.readStream.format("synthcorpus")
        .option("n_docs", 1000)
        .option("seed", "synth")
        .option("batch_docs", 200)
        .load()
    )

    def sink(batch_df, batch_id):
        batch_df.write.format("manifestsink").option("path", path).option(
            "batch_id", batch_id
        ).mode("append").save()

    q = (
        stream.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", f"{path}_ckpt"
        )
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    shutil.rmtree(f"{path}_ckpt", ignore_errors=True)

    back = read_manifest_jsonl(spark, path, "doc_id BIGINT, text STRING")
    n_commits = read_manifest(path)["version"]
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_id").alias("n_distinct_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    ).select(
        "n_docs",
        "n_distinct_docs",
        "total_chars",
        F.lit(n_commits).cast("bigint").alias("n_commits"),
    )


from mpi_word_count_spark.queries.stats_queries import (  # noqa: E402
    _HOLT_ORACLE as _HOLT_PARITY_ORACLE,
)
from mpi_word_count_spark.streaming.queries import (  # noqa: E402
    streaming_holt_forecast,
)


@register("streaming_holt_forecast", oracle=_HOLT_PARITY_ORACLE)
def q_streaming_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live Holt level+trend forecast per event type as a custom
    stateful streaming operator (applyInPandasWithState) — the
    streaming twin of events_holt_trend, verified against the SAME
    recursive-CTE oracle (batch/stream parity on the finite fixture).
    See streaming/queries.py streaming_holt_forecast for the
    state/ordering contract."""
    ev = stream_table(spark, "events", sf_dir)
    return run_to_completion(streaming_holt_forecast(ev), "update")
