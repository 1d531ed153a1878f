"""Approximate-sketch queries with tolerance-band oracles.

HLL / GK sketch ESTIMATES are engine-specific (Spark's HyperLogLog++
vs DuckDB's approx algorithms produce different numbers), so the raw
estimate can never be value-hash-compared across engines. Instead
each sketch query emits (a) the EXACT answer over the same rows and
(b) a boolean asserting the sketch estimate sits inside the sketch's
published error envelope of that exact answer. The DuckDB oracle
computes the identical exact values and literal TRUE — the driver
hash then verifies both the exact computation cross-engine AND the
estimator's error bound. The exact columns exist only to make the
sketch verifiable; the production variant at 100 TB runs the sketch
alone (constant memory per group, mergeable partial states).

The only remaining no-oracle entry in this package era is
compression_ratios (zlib has no DuckDB equivalent at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.skew import salted_count
from mpi_word_count_spark.registry import register, sql_regex
from mpi_word_count_spark.tables import table
from mpi_word_count_spark.tokenizer import tokenize


@register(
    "approx_distinct_words",
    oracle=f"""
    SELECT lang,
           count(DISTINCT word) AS exact_distinct_words,
           TRUE AS within_tolerance
    FROM (
        SELECT lang,
               lower(unnest(regexp_split_to_array(text, '{sql_regex()}'))) AS word
        FROM documents
    ) WHERE word <> ''
    GROUP BY lang
    """,
)
def q_approx_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) per language — constant memory
    per group at any cardinality — verified against the exact
    countDistinct over the same rows: within_tolerance asserts
    |approx-exact|/exact <= 3*rsd (three standard errors of the HLL++
    estimator). The oracle recomputes the exact counts and expects
    the band to hold, so a hash match proves both."""
    docs = table(spark, "documents", sf_dir)
    toks = tokenize(docs, col="text", keep=["lang"])
    agg = toks.groupBy("lang").agg(
        F.countDistinct("word").alias("exact_distinct_words"),
        F.approx_count_distinct("word", rsd=0.01).alias("est"),
    )
    return agg.select(
        "lang",
        "exact_distinct_words",
        (
            F.abs(F.col("est") - F.col("exact_distinct_words"))
            / F.col("exact_distinct_words")
            <= F.lit(3 * 0.01)
        ).alias("within_tolerance"),
    ).orderBy("lang")


@register(
    "approx_value_quantiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5)::DOUBLE, 2) AS p50,
           round(quantile_cont(value, 0.99)::DOUBLE, 2) AS p99,
           TRUE AS p50_in_band,
           TRUE AS p99_in_band
    FROM events GROUP BY event_type
    """,
)
def q_approx_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna, accuracy=10000) per
    event_type — the sketch twin of order_price_percentiles —
    verified in-band: the GK guarantee is rank error <= n/accuracy
    (1e-4), so each estimate must lie between the exact interpolated
    percentiles at q±0.005, a 50x safety margin that is still a tight
    value claim. Exact p50/p99 (percentile ≡ DuckDB quantile_cont)
    are hash-compared; the bands are asserted on both sides."""
    e = table(spark, "events", sf_dir)
    agg = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(value, 0.99)"), 2).alias("p99"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("a50"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("a99"),
        F.expr("percentile(value, 0.495)").alias("lo50"),
        F.expr("percentile(value, 0.505)").alias("hi50"),
        F.expr("percentile(value, 0.985)").alias("lo99"),
        F.expr("percentile(value, 0.995)").alias("hi99"),
    )
    return agg.select(
        "event_type",
        "p50",
        "p99",
        ((F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50"))).alias(
            "p50_in_band"
        ),
        ((F.col("a99") >= F.col("lo99")) & (F.col("a99") <= F.col("hi99"))).alias(
            "p99_in_band"
        ),
    )


@register(
    "salted_wordcount",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM (
        SELECT lower(unnest(regexp_split_to_array(text, '{sql_regex()}'))) AS word
        FROM documents
    ) WHERE word <> ''
    GROUP BY word
    """,
)
def q_salted_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship aggregation through the two-phase salted operator
    (skew-proof path for Zipfian keys) — same results, full oracle."""
    docs = table(spark, "documents", sf_dir)
    toks = tokenize(docs, col="text")
    return salted_count(toks, ["word"], salt_buckets=16)


@register(
    "hll_sketch_rollup",
    oracle=f"""
    WITH tk AS (
        SELECT lang, word FROM (
            SELECT lang,
                   lower(unnest(regexp_split_to_array(text, '{sql_regex()}')))
                       AS word
            FROM documents
        ) WHERE word <> ''
    )
    SELECT lang, exact_distinct_words, TRUE AS within_tolerance FROM (
        SELECT lang, count(DISTINCT word) AS exact_distinct_words
        FROM tk GROUP BY lang
        UNION ALL
        SELECT 'ALL', count(DISTINCT word) FROM tk
    ) ORDER BY lang
    """,
)
def q_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the pattern that actually runs at
    100 TB: per-group HLL sketches (hll_sketch_agg) are built in one
    pass, then UNIONED (hll_union_agg) for the rollup row instead of
    re-scanning the corpus for the global distinct. The 'ALL' row is
    a re-aggregation of kilobyte sketch states, not data.

    Driver verification: each row carries the exact distinct count
    over the same rows plus within_tolerance = |est-exact|/exact <=
    3*rsd (lgConfigK=12 → rsd ≈ 1.04/√4096 ≈ 1.6%). Sketches are fed
    the materialized distinct (lang, word) pairs — HLL state is
    identical on a deduplicated stream (insert is idempotent), and
    holding them lets the exact branch reuse the same single corpus
    scan. The exact columns exist only for verification; production
    runs the sketch branch alone.
    """
    from mpi_word_count_spark.operators import materialize

    docs = table(spark, "documents", sf_dir)
    toks = tokenize(docs, col="text", keep=["lang"])
    # one corpus scan + one distinct shuffle feeds every branch:
    # per-lang sketches, per-lang exact, and the global exact
    pairs = materialize(toks.distinct())
    sketches = materialize(
        pairs.groupBy("lang").agg(F.hll_sketch_agg("word").alias("sk"))
    )
    est_lang = sketches.select(
        "lang", F.hll_sketch_estimate("sk").alias("est")
    )
    est_all = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).select(F.lit("ALL").alias("lang"), "est")
    exact_lang = pairs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("exact_distinct_words")
    )
    exact_all = pairs.agg(
        F.countDistinct("word").alias("exact_distinct_words")
    ).select(F.lit("ALL").alias("lang"), "exact_distinct_words")
    rsd = 1.04 / (2**12) ** 0.5
    return (
        exact_lang.unionByName(exact_all)
        .join(est_lang.unionByName(est_all), "lang")
        .select(
            "lang",
            "exact_distinct_words",
            (
                F.abs(F.col("est") - F.col("exact_distinct_words"))
                / F.col("exact_distinct_words")
                <= F.lit(3 * rsd)
            ).alias("within_tolerance"),
        )
        .orderBy("lang")
    )


def _cms_oracle() -> str:
    from mpi_word_count_spark.functions.hashing import sql_hash32
    from mpi_word_count_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH

    stream = "\n        UNION ALL\n".join(
        f"        SELECT {i} AS i, "
        f"{sql_hash32('word', f'cms{i}')} % {CMS_WIDTH} AS bucket FROM tok"
        for i in range(CMS_DEPTH)
    )
    coords = "\n        UNION ALL\n".join(
        f"        SELECT word, {i} AS i, "
        f"{sql_hash32('word', f'cms{i}')} % {CMS_WIDTH} AS bucket FROM top"
        for i in range(CMS_DEPTH)
    )
    return f"""
    WITH toks AS (
        SELECT list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    tok AS (SELECT unnest(t) AS word FROM toks),
    cnt AS (
        SELECT i, bucket, count(*) AS c FROM (
{stream}
        ) GROUP BY 1, 2
    ),
    top AS (
        SELECT word, CAST(count(*) AS BIGINT) AS exact_count
        FROM tok GROUP BY 1
        ORDER BY exact_count DESC, word ASC LIMIT 20
    ),
    coords AS (
{coords}
    ),
    est AS (
        SELECT word, CAST(min(coalesce(c, 0)) AS BIGINT) AS cms_estimate
        FROM coords LEFT JOIN cnt USING (i, bucket)
        GROUP BY 1
    )
    SELECT t.word, t.exact_count, e.cms_estimate
    FROM top t JOIN est e USING (word)
    ORDER BY exact_count DESC, word ASC
    """


@register("cms_word_counts", oracle=_cms_oracle())
def q_cms_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates vs exact counts for the top-20
    words. Unlike the HLL/percentile entries above, this sketch is
    built from the portable md5 hash family, so the ENTIRE approximate
    data structure — all depth×width counters and every estimate — is
    value-hash-verified against DuckDB. The counter shuffle carries at
    most depth·width keys regardless of corpus size or vocabulary; the
    overestimate guarantee (estimate ≥ exact, always) is locked in
    tests/test_approx_tolerance.py."""
    from mpi_word_count_spark.operators.sketches import cms_counters, cms_estimates

    docs = table(spark, "documents", sf_dir)
    words = tokenize(docs, col="text").select("word")
    counters = cms_counters(words, "word")
    top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("word"))
        .limit(20)
    )
    return (
        top.join(cms_estimates(counters, top.select("word"), "word"), "word")
        .select("word", "exact_count", "cms_estimate")
        .orderBy(F.desc("exact_count"), F.asc("word"))
    )


def _bloom_oracle() -> str:
    from mpi_word_count_spark.functions.hashing import sql_hash32
    from mpi_word_count_spark.operators.sketches import BLOOM_BITS, BLOOM_HASHES

    build = "\n        UNION ALL\n".join(
        f"        SELECT {sql_hash32('h', f'bf{j}')} % {BLOOM_BITS} AS p FROM corpus"
        for j in range(BLOOM_HASHES)
    )
    probe = "\n        UNION ALL\n".join(
        f"        SELECT content_hash, "
        f"{sql_hash32('content_hash', f'bf{j}')} % {BLOOM_BITS} AS p FROM batch_h"
        for j in range(BLOOM_HASHES)
    )
    return f"""
    WITH corpus AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0
    ),
    batch AS (
        SELECT doc_id, md5(text) AS content_hash FROM documents
        WHERE doc_id % 5 = 0
    ),
    batch_h AS (SELECT DISTINCT content_hash FROM batch),
    bitmap AS (
        SELECT p // 32 AS slot, bit_or(1::BIGINT << (p % 32)::INT) AS bits
        FROM ({build}) GROUP BY 1
    ),
    probes AS (
        SELECT content_hash, p // 32 AS slot, 1::BIGINT << (p % 32)::INT AS b
        FROM ({probe})
    ),
    hit AS (
        SELECT content_hash,
               min(CASE WHEN coalesce(bits, 0) & b <> 0 THEN 1 ELSE 0 END) = 1
                   AS might_contain
        FROM probes LEFT JOIN bitmap USING (slot)
        GROUP BY 1
    )
    SELECT b.doc_id, h.might_contain,
           (c.h IS NOT NULL) AS in_corpus
    FROM batch b
    JOIN hit h ON b.content_hash = h.content_hash
    LEFT JOIN corpus c ON b.content_hash = c.h
    ORDER BY b.doc_id
    """


@register("bloom_prefilter_stats", oracle=_bloom_oracle())
def q_bloom_prefilter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prefilter: corpus content hashes folded
    into a 1024-bit md5-derived bitmap (32 slot rows — broadcastable at
    ANY corpus size), probed by the incoming batch, compared against
    exact membership. The production prefilter in front of
    incremental dedup: probes that miss skip the corpus join
    entirely, and no-false-negatives means nothing real is skipped
    (locked in tests). Entire filter state is value-hash-verified."""
    from mpi_word_count_spark.operators.sketches import bloom_bitmap, bloom_probe

    docs = table(spark, "documents", sf_dir)
    corpus = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    bm = bloom_bitmap(corpus, "h")
    probed = bloom_probe(bm, batch.select("content_hash").distinct(), "content_hash")
    exact = corpus.withColumnRenamed("h", "content_hash").withColumn(
        "in_corpus", F.lit(True)
    )
    return (
        batch.join(probed, "content_hash")
        .join(exact, "content_hash", "left")
        .select(
            "doc_id",
            "might_contain",
            F.coalesce(F.col("in_corpus"), F.lit(False)).alias("in_corpus"),
        )
        .orderBy("doc_id")
    )


@register(
    "hll_set_intersection",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click' AND value > 90),
    b AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase' AND value > 90)
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS exact_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS exact_b,
           CAST((SELECT count(*) FROM a JOIN b USING (user_id)) AS BIGINT)
               AS exact_intersection,
           TRUE AS within_tolerance
    """,
)
def q_hll_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: estimate |A ∩ B| (high-value clickers who are
    also high-value purchasers — genuinely partial overlap on the
    fixture: 135/127 sides, 113 common at sf0.01) by inclusion-exclusion over HLL sketches — est(A) +
    est(B) − est(A ∪ B), where the union estimate comes from MERGING
    the two sketch states (hll_union), never from re-scanning — the
    constant-memory way to intersect two 10-billion-user sets at
    100 TB (each sketch is kilobytes; the exact join below exists
    only to verify). Driver verification follows the sketch-family
    pattern: exact values hash-compare cross-engine, and
    within_tolerance asserts the estimate sits inside the compounded
    envelope 3·rsd·(est_a + est_b + est_union) — inclusion-exclusion
    ADDS absolute errors, so the band must widen accordingly (and
    does: lgConfigK=12 → rsd ≈ 1.6%)."""
    e = table(spark, "events", sf_dir)
    # one scan: per-side sketches built as conditional aggregates
    sk = e.agg(
        F.hll_sketch_agg(
            F.when(
                (F.col("event_type") == "click") & (F.col("value") > 90),
                F.col("user_id"),
            )
        ).alias("sk_a"),
        F.hll_sketch_agg(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90),
                F.col("user_id"),
            )
        ).alias("sk_b"),
        F.countDistinct(
            F.when(
                (F.col("event_type") == "click") & (F.col("value") > 90),
                F.col("user_id"),
            )
        ).alias("exact_a"),
        F.countDistinct(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90),
                F.col("user_id"),
            )
        ).alias("exact_b"),
    )
    est = sk.select(
        "exact_a",
        "exact_b",
        F.hll_sketch_estimate("sk_a").alias("est_a"),
        F.hll_sketch_estimate("sk_b").alias("est_b"),
        F.hll_sketch_estimate(
            F.hll_union("sk_a", "sk_b")
        ).alias("est_u"),
    )
    exact_i = (
        e.filter((F.col("event_type") == "click") & (F.col("value") > 90))
        .select("user_id")
        .distinct()
        .join(
            e.filter(
                (F.col("event_type") == "purchase") & (F.col("value") > 90)
            )
            .select("user_id")
            .distinct(),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    rsd = 1.04 / (2**12) ** 0.5
    return est.crossJoin(F.broadcast(exact_i)).select(
        F.col("exact_a").cast("bigint").alias("exact_a"),
        F.col("exact_b").cast("bigint").alias("exact_b"),
        F.col("exact_intersection").cast("bigint").alias(
            "exact_intersection"
        ),
        (
            F.abs(
                (F.col("est_a") + F.col("est_b") - F.col("est_u"))
                - F.col("exact_intersection")
            )
            <= F.lit(3 * rsd)
            * (F.col("est_a") + F.col("est_b") + F.col("est_u"))
        ).alias("within_tolerance"),
    )


def _bloom_fpr_oracle() -> str:
    from mpi_word_count_spark.functions.parity import sql_portable_round
    from mpi_word_count_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_HASHES,
    )
    from mpi_word_count_spark.registry import _REGISTRY

    bloom = _REGISTRY["bloom_prefilter_stats"][1]
    pr = sql_portable_round
    k, m = BLOOM_HASHES, BLOOM_BITS
    theo = f"pow(1.0 - exp(-{k}.0 * n_inserted / {m}), {k})"
    return f"""
    WITH probes AS MATERIALIZED (SELECT * FROM ({bloom})),
    n_ins AS (
        SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_inserted
        FROM documents WHERE doc_id % 5 <> 0
    ),
    agg AS (
        SELECT CAST(count(CASE WHEN NOT in_corpus THEN 1 END) AS BIGINT)
                   AS n_negatives,
               CAST(count(CASE WHEN might_contain AND NOT in_corpus THEN 1
                          END) AS BIGINT) AS n_false_positives,
               CAST(count(CASE WHEN in_corpus AND NOT might_contain THEN 1
                          END) AS BIGINT) AS n_false_negatives
        FROM probes
    )
    SELECT a.n_negatives, a.n_false_positives, a.n_false_negatives,
           {pr("CAST(a.n_false_positives AS DOUBLE) / a.n_negatives", 4)}
               AS measured_fpr,
           {pr(theo, 4)} AS theoretical_fpr
    FROM agg a CROSS JOIN n_ins
    """


@register("bloom_fpr_audit", oracle=_bloom_fpr_oracle())
def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom prefilter's error budget, MEASURED against theory:
    false-positive rate over the true-negative probes vs the textbook
    (1 − e^(−kn/m))^k for this filter's k hashes, m bits, and n
    distinct inserted keys — the number a capacity planner sizes m by
    — plus the structural zero false negatives (the property that
    makes the prefilter SAFE: nothing real is ever skipped). Composes
    the registered bloom pipeline verbatim; exp/pow run on exact
    integer inputs with fixed constants, floored at 4dp."""
    from mpi_word_count_spark.functions.parity import portable_round
    from mpi_word_count_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_HASHES,
    )
    from mpi_word_count_spark.queries.approx_queries import (
        q_bloom_prefilter_stats,
    )

    probes = q_bloom_prefilter_stats(spark, sf_dir)
    docs = table(spark, "documents", sf_dir)
    n_ins = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_inserted"))
    )
    agg = probes.agg(
        F.count(F.when(~F.col("in_corpus"), 1)).alias("n_negatives"),
        F.count(
            F.when(F.col("might_contain") & ~F.col("in_corpus"), 1)
        ).alias("n_false_positives"),
        F.count(
            F.when(F.col("in_corpus") & ~F.col("might_contain"), 1)
        ).alias("n_false_negatives"),
    )
    k, m = BLOOM_HASHES, BLOOM_BITS
    theo = F.pow(
        F.lit(1.0)
        - F.exp(F.lit(-float(k)) * F.col("n_inserted") / F.lit(float(m))),
        F.lit(float(k)),
    )
    return agg.crossJoin(F.broadcast(n_ins)).select(
        "n_negatives",
        "n_false_positives",
        "n_false_negatives",
        portable_round(
            F.col("n_false_positives").cast("double") / F.col("n_negatives"),
            4,
        ).alias("measured_fpr"),
        portable_round(theo, 4).alias("theoretical_fpr"),
    )
