"""Text-analysis operators for training-data curation (north star):
language ID, quality scoring, token counting, document fingerprints,
TF-IDF. All built from JVM-side columnar expressions — no Python in
the row path — so they run at scan speed over any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.dedup import tokens_col
from mpi_word_count_spark.operators.relational import topk_per_group

# Function-word marker lists for the n-gram-free language-ID
# heuristic: score = |tokens ∩ markers(lang)|, argmax wins.
# Deliberately tiny — the operator's shape (token ⋈ broadcast vocab →
# per-doc argmax) is what scales, the lists are swappable config.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "for", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "las"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "fr": ("le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}

# English stopwords for the quality heuristic (subset; swappable).
STOPWORDS = LANG_MARKERS["en"] + ("a", "an", "on", "with", "as", "at", "by")

# BPE-ish pre-tokenizer: letter runs | single digits | single symbols.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def doc_metrics(df: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """ALL narrow per-document metrics in ONE projection pass — token
    stats, quality ratios, content hash. `token_stats`/`quality_scores`
    are selections of this; pipeline compositions should use it
    directly so N metric families cost one scan and zero joins (the
    per-doc equi-joins of the naive composition are pure waste: every
    metric here is computable row-locally).

    Two-phase projection: the token array materializes once, metrics
    read the bound column (see shingles_from_tokens on why)."""
    from mpi_word_count_spark.functions.parity import portable_round
    from mpi_word_count_spark.operators import widen

    keep = keep or []
    staged = widen(df).select(
        F.col("doc_id").alias("doc_id"),
        *[F.col(k) for k in keep],
        F.col("text").alias("_text"),
        tokens_col("text").alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_arr = F.array(*[F.lit(w) for w in sorted(set(STOPWORDS))])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_chars = F.length(F.col("_text"))
    n_alpha = F.length(F.regexp_replace(F.col("_text"), "[^A-Za-z]", ""))
    stop_ratio = F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))
    mean_len_norm = F.when(
        n > 0, F.least(total_len / n / F.lit(8.0), F.lit(1.0))
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        *keep,
        "_text",
        n_chars.cast("bigint").alias("n_chars"),
        n.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique"),
        F.when(n > 0, F.round(total_len / n, 4)).alias("mean_token_len"),
        F.size(F.regexp_extract_all(F.col("_text"), F.lit(BPE_ISH_PATTERN), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        portable_round(stop_ratio, 4).alias("stopword_ratio"),
        portable_round(alpha_ratio, 4).alias("alpha_ratio"),
        portable_round(
            0.4 * stop_ratio + 0.3 * mean_len_norm + 0.3 * alpha_ratio, 4
        ).alias("quality_score"),
    )


def token_stats(df: DataFrame) -> DataFrame:
    """Per-document token statistics: whitespace/delimiter tokens,
    distinct tokens, mean token length, BPE-ish token count."""
    return doc_metrics(df).select(
        "doc_id", "n_tokens", "n_unique", "mean_token_len", "n_bpe_tokens"
    )


def predicted_language(df: DataFrame) -> DataFrame:
    """Language prediction for docs with ≥1 marker match: tokens ⋈
    broadcast(marker vocab) → per-doc score per language → argmax
    (ties break on language code). Docs with no match are ABSENT —
    callers that filter on a concrete language should use this
    directly (no docs-side join needed); language_id adds the
    'unknown' completion."""
    spark = df.sparkSession
    vocab = spark.createDataFrame(
        [(lang, w) for lang, words in sorted(LANG_MARKERS.items()) for w in words],
        "lang string, marker string",
    )
    toks = df.select(
        F.col("doc_id").alias("doc_id"), F.explode(tokens_col("text")).alias("tok")
    )
    scores = (
        toks.join(F.broadcast(vocab), toks.tok == vocab.marker)
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    return topk_per_group(
        scores, ["doc_id"], [F.desc("score"), F.asc("lang")], k=1
    ).select(
        "doc_id",
        F.col("lang").alias("pred_lang"),
        F.col("score").cast("bigint").alias("score"),
    )


def language_id(df: DataFrame) -> DataFrame:
    """Heuristic language ID over ALL docs (zero matches → 'unknown').

    The vocab join broadcasts (vocab is tiny by construction); the
    only shuffles are the per-doc aggregation and the completion join
    back to the id spine."""
    best = predicted_language(df)
    ids = df.select(F.col("doc_id").alias("doc_id"))
    return ids.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("pred_lang"), F.lit("unknown")).alias("pred_lang"),
        F.coalesce(F.col("score"), F.lit(0).cast("bigint")).alias("score"),
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Document quality heuristics: length, stopword ratio, alphabetic
    ratio, mean token length → one [0,1] score.

      score = 0.4·stopword_ratio + 0.3·min(mean_len/8, 1) + 0.3·alpha_ratio

    (the C4/Gopher-style cheap filters; the formula is config, the
    plan shape — single narrow projection, no shuffle — is the point)."""
    return doc_metrics(df).select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "stopword_ratio",
        "alpha_ratio",
        "quality_score",
    )


# the 8 "required stop words" of the Gopher rule set (Rae et al. 2021,
# "Scaling Language Models: ... Gopher", Appendix A) — a document must
# contain at least 2 to pass the stop-word rule
GOPHER_REQUIRED_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_BULLETS = ("-", "*", "•")  # line-start bullet characters


def gopher_quality_flags(df: DataFrame) -> DataFrame:
    """The full Gopher quality-rule set (Rae et al. 2021 Appendix A)
    as per-document boolean flags plus the measured ratios, so a
    curation pipeline can tune/ablate individual rules instead of
    consuming one blended score (quality_scores is the blended twin):

      word_count_ok      50 ≤ n_words ≤ 100,000
      word_len_ok        3 ≤ mean word length ≤ 10
      symbol_ok          (#'s + ellipses) / n_words < 0.1
      bullet_ok          < 90% of lines start with a bullet
      ellipsis_ok        < 30% of lines end with an ellipsis
      alpha_ok           ≥ 80% of words contain an alphabetic char
      stops_ok           ≥ 2 of the 8 required stop words appear
      keep               AND of all seven

    Words are WHITESPACE tokens (the paper's unit), not the engine's
    delimiter alphabet — quality rules must see punctuation glued to
    words ('word...' is an ellipsis signal, not two tokens).

    Plan shape: one narrow projection (two-phase so the word/line
    arrays materialize once), no shuffle, no UDF — the rule set is
    scan-speed work at 100 TB, exactly why these filters run FIRST in
    production curation pipelines (C4/Gopher/RefinedWeb all lead with
    them, ahead of any dedup shuffle)."""
    from mpi_word_count_spark.functions.parity import portable_round
    from mpi_word_count_spark.operators import widen

    text = F.col("_text")
    staged = widen(df).select(
        F.col("doc_id").alias("doc_id"),
        F.col("text").alias("_text"),
        F.filter(
            F.split(F.col("text"), r"\s+"), lambda w: w != F.lit("")
        ).alias("_words"),
        F.filter(
            F.split(F.col("text"), "\n"), lambda l: F.trim(l) != F.lit("")
        ).alias("_lines"),
    )
    words, lines = F.col("_words"), F.col("_lines")
    n_words = F.size(words)
    n_lines = F.size(lines)
    total_len = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_word_len = F.when(n_words > 0, total_len / n_words).otherwise(F.lit(0.0))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#")))
    n_ell3 = (F.length(text) - F.length(F.replace(text, F.lit("...")))) / F.lit(3)
    n_ell1 = F.length(text) - F.length(F.replace(text, F.lit("…")))
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ell3 + n_ell1) / n_words
    ).otherwise(F.lit(0.0))
    bullet_arr = F.array(*[F.lit(b) for b in GOPHER_BULLETS])
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.array_contains(bullet_arr, F.substring(F.ltrim(l), 1, 1)),
        )
    )
    n_ell_lines = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    )
    bullet_ratio = F.when(n_lines > 0, n_bullet / n_lines).otherwise(F.lit(0.0))
    ellipsis_ratio = F.when(n_lines > 0, n_ell_lines / n_lines).otherwise(F.lit(0.0))
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.when(n_words > 0, n_alpha_words / n_words).otherwise(F.lit(0.0))
    stops_arr = F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPS])
    n_stops = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)), stops_arr
        )
    )
    flags = {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        "word_len_ok": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "symbol_ok": symbol_ratio < 0.1,
        "bullet_ok": bullet_ratio < 0.9,
        "ellipsis_ok": ellipsis_ratio < 0.3,
        "alpha_ok": alpha_ratio >= 0.8,
        "stops_ok": n_stops >= 2,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return staged.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        portable_round(mean_word_len, 4).alias("mean_word_len"),
        portable_round(symbol_ratio, 4).alias("symbol_ratio"),
        portable_round(bullet_ratio, 4).alias("bullet_line_ratio"),
        portable_round(ellipsis_ratio, 4).alias("ellipsis_line_ratio"),
        portable_round(alpha_ratio, 4).alias("alpha_word_ratio"),
        n_stops.cast("bigint").alias("n_required_stops"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


def doc_fingerprints(df: DataFrame) -> DataFrame:
    """Content-defined fingerprint: md5 over the sorted distinct token
    set (order-insensitive bag signature — robust to shuffling, the
    cheap companion to MinHash for exact set identity)."""
    toks = tokens_col("text")
    return df.select(
        F.col("doc_id").alias("doc_id"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias(
            "fingerprint"
        ),
    )


def doc_chunks(df: DataFrame, chunk_size: int = 120, stride: int = 60) -> DataFrame:
    """Overlapping token-window chunks per document — the standard
    LLM-training preprocessing step (context-window packing input).

    Chunk c covers tokens [c·stride, c·stride + chunk_size); starts
    are generated while < n_tokens, so the final chunk may be short;
    empty documents produce no chunks. Emits the chunk's md5 (content
    identity for downstream chunk-level dedup) rather than the text.

    All native: sequence → transform → explode. One narrow stage, no
    shuffle, no UDF — chunking 100 TB is scan-speed work.
    """
    from mpi_word_count_spark.operators import widen

    staged = widen(df).select(
        F.col("doc_id").alias("doc_id"), tokens_col("text").alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("bigint").alias("chunk_id"),
            F.least(F.lit(chunk_size), n - s).cast("bigint").alias("n_chunk_tokens"),
            F.md5(F.array_join(F.slice(toks, s + 1, chunk_size), " ")).alias(
                "chunk_hash"
            ),
        ),
    )
    return staged.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_id", "c.n_chunk_tokens", "c.chunk_hash"
    )


def pack_chunks(
    chunks: DataFrame,
    budget: int = 2048,
    n_buckets: int = 16,
) -> DataFrame:
    """Pack doc_chunks output into fixed token-budget training
    sequences — the step after chunking in an LLM data pipeline.

    Offset packing: within a bucket, chunks are laid end-to-end in
    (doc_id, chunk_id) order and sequence s covers token offsets
    [s·budget, (s+1)·budget) — a chunk straddling a boundary joins the
    sequence where it starts (production packers split the straddler;
    the assignment below is the deterministic skeleton both share).

    Packing is order-free across sequences, so it runs PER BUCKET
    (doc_id mod n_buckets): the window sort is partition-parallel —
    never a global single-partition sort, which is what makes this
    shape survive 100 TB. At cluster scale n_buckets ≈ 2-3× executor
    count."""
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.asc("doc_id"), F.asc("chunk_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = chunks.withColumn("bucket", (F.col("doc_id") % n_buckets).cast("bigint"))
    start = F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0).cast("bigint"))
    return (
        staged.withColumn("seq_no", F.floor(start / budget).cast("bigint"))
        .groupBy("bucket", "seq_no")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").cast("bigint").alias("n_tokens"),
        )
    )


# PII/noise scrub patterns — portable across Java regex (Spark) and
# RE2 (DuckDB oracle): no backrefs, no lookaround.
URL_PATTERN = r"https?://\S+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def scrub_text(df: DataFrame) -> DataFrame:
    """URL/email redaction + whitespace normalization — the standard
    first pass of an LLM training-data cleaning pipeline (the reference
    has no scalar functions beyond lower, SURVEY.md §2.6; this is the
    curation-era analog).

    Emits match counts and the md5 of the scrubbed text (content
    identity for downstream dedup) rather than shipping the full text
    through the plan. Pure narrow projection of JVM regex expressions:
    no shuffle, no UDF — scan-speed at any corpus size."""
    text = F.col("text")
    clean = F.regexp_replace(text, URL_PATTERN, "<URL>")
    clean = F.regexp_replace(clean, EMAIL_PATTERN, "<EMAIL>")
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return df.select(
        F.col("doc_id").alias("doc_id"),
        F.size(F.regexp_extract_all(text, F.lit(URL_PATTERN), 0))
        .cast("bigint")
        .alias("n_urls"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.md5(clean).alias("clean_hash"),
    )


# Extended PII surface: same portability constraints (no backrefs, no
# lookaround — Java regex and RE2 agree on these exactly).
PHONE_PATTERN = r"\d{3}-\d{3}-\d{4}"
IPV4_PATTERN = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


def pii_scrub(df: DataFrame) -> DataFrame:
    """Multi-pattern PII detection + redaction: emails, NANP-style
    phone numbers, IPv4 addresses — per-type match counts plus the md5
    of the fully redacted text (replacement order: email → phone → ip,
    so address-like digits inside an already-redacted span are never
    double-redacted).

    Same scale shape as scrub_text: a pure narrow projection of JVM
    regex expressions — no shuffle, no UDF, scan-speed at 100 TB. The
    counts are what a curation dashboard aggregates; the redacted hash
    is the content identity fed to downstream dedup."""
    text = F.col("text")
    red = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    red = F.regexp_replace(red, PHONE_PATTERN, "<PHONE>")
    red = F.regexp_replace(red, IPV4_PATTERN, "<IP>")

    def n(pattern: str) -> Column:
        return F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("bigint")

    return df.select(
        F.col("doc_id").alias("doc_id"),
        n(EMAIL_PATTERN).alias("n_emails"),
        n(PHONE_PATTERN).alias("n_phones"),
        n(IPV4_PATTERN).alias("n_ips"),
        F.md5(red).alias("redacted_hash"),
    )


def ngram_counts(df: DataFrame, n: int = 2, k: int | None = None) -> DataFrame:
    """Corpus-level word n-gram frequencies (top-k when k is set) —
    the n>1 generalization of the reference's flagship word count
    (word_count_mpi.c:346-384 counts exactly the n=1 case).

    Grams build inside the token array (sequence → slice → join): the
    explode emits n-grams directly, so the shuffle carries |distinct
    grams| after partial aggregation — same map-side-combine asymptotics
    as word count. Top-k runs as TakeOrderedAndProject, not a sort."""
    from mpi_word_count_spark.operators import widen

    staged = widen(df).select(tokens_col("text").alias("_toks"))
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        staged.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    if k is not None:
        counts = counts.orderBy(
            F.desc("n_occurrences"), F.asc("ngram")
        ).limit(k)
    return counts


def repetition_scores(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    tokens taken by the single most frequent token, and the fraction
    of word n-grams (n=2,3) that occur more than once. Documents
    breaching any threshold are flagged `repetitive` — the standard
    filter for looping/boilerplate text in training-data curation.

    Scale shape: unigrams/bigrams/trigrams are tagged with their gram
    order and exploded in ONE pass, so the corpus is tokenized once
    and the only wide shuffle carries (doc_id, n, gram) with map-side
    partial aggregation; a single conditional-aggregate rollup lands
    on doc_id (audited: 2 aggregation shuffles total). No self-joins;
    the final broadcast left join keys on doc_id against a
    column-pruned id scan so token-less documents still get 0.0
    scores.
    """
    from mpi_word_count_spark.functions.parity import portable_round
    from mpi_word_count_spark.operators import widen

    staged = widen(df).select(
        F.col("doc_id").alias("doc_id"), tokens_col("text").alias("_toks")
    )
    toks = F.col("_toks")

    def grams(n: int):
        # reads the BOUND _toks column (see shingles_from_tokens on
        # why the token array must materialize in its own projection)
        g = (
            toks
            if n == 1
            else F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.array_join(F.slice(toks, i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        )
        return F.transform(
            g, lambda x: F.struct(F.lit(n).alias("n"), x.alias("gram"))
        )

    per_gram = (
        staged.select(
            "doc_id", F.explode(F.concat(grams(1), grams(2), grams(3))).alias("g")
        )
        .groupBy("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # single rollup to doc_id with conditional aggregates — a
    # groupBy(doc_id, n) intermediate would add a second wide shuffle
    # for nothing (partial aggregation folds these map-side anyway)
    n_, c_ = F.col("n"), F.col("c")
    dup = F.when(c_ > 1, c_).otherwise(F.lit(0))
    wide = per_gram.groupBy("doc_id").agg(
        F.max(F.when(n_ == 1, c_)).alias("mx1"),
        F.sum(F.when(n_ == 1, c_)).alias("tot1"),
        F.sum(F.when(n_ == 2, dup)).alias("dup2"),
        F.sum(F.when(n_ == 2, c_)).alias("tot2"),
        F.sum(F.when(n_ == 3, dup)).alias("dup3"),
        F.sum(F.when(n_ == 3, c_)).alias("tot3"),
    )

    def frac(num, den):
        return portable_round(
            F.when(
                F.coalesce(den, F.lit(0)) > 0, F.coalesce(num, F.lit(0)) / den
            ).otherwise(F.lit(0.0)),
            4,
        )

    scored = (
        # plain projection (no widen): the id-only scan feeds the
        # streamed side of a broadcast join and does zero per-row
        # compute — widening it would only add an Exchange
        df.select(F.col("doc_id").alias("doc_id"))
        .join(wide, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("tot1", F.lit(0)).cast("bigint").alias("n_tokens"),
            frac(F.col("mx1"), F.col("tot1")).alias("top_token_frac"),
            frac(F.col("dup2"), F.col("tot2")).alias("dup_2gram_frac"),
            frac(F.col("dup3"), F.col("tot3")).alias("dup_3gram_frac"),
        )
    )
    # thresholds compare the already-portable-rounded values, so the
    # boolean is engine-stable even at half-way points
    return scored.withColumn(
        "repetitive",
        (F.col("top_token_frac") > 0.2)
        | (F.col("dup_2gram_frac") > 0.35)
        | (F.col("dup_3gram_frac") > 0.25),
    )


def compression_ratios(df: DataFrame) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) —
    the classic repetition/boilerplate quality signal (highly
    repetitive machine-generated text compresses far below natural
    prose; Gopher-style pipelines threshold on it).

    zlib isn't expressible in SQL or Catalyst, so this is the repo's
    canonical VECTORIZED pandas_udf: one Python call per Arrow batch
    (thousands of docs), C-speed zlib per row inside — not a
    row-at-a-time Python UDF. Narrow projection, no shuffle; the UDF
    cost is linear in corpus bytes at any scale. Rows-only driver
    check (no zlib in the oracle engine); behavior unit-tested on
    synthetic compressible vs high-entropy text."""
    from pyspark.sql.functions import pandas_udf

    def _zratio(texts):  # pd.Series -> pd.Series (Arrow batch)
        import zlib

        def one(t):
            if t is None or len(t) == 0:
                return None
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    zratio = pandas_udf(_zratio, "double")

    return df.select(
        F.col("doc_id").alias("doc_id"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.round(zratio(F.col("text")), 4).alias("compression_ratio"),
    )


def pmi_score_pairs(
    pairs: DataFrame,
    uni: DataFrame,
    min_count: int,
    keep: list[str],
) -> DataFrame:
    """Shared PMI scorer for word-pair statistics:

      pmi(w1,w2) = ln( (c12/N2) / ((c1/N1)·(c2/N1)) )

    `pairs` carries (w1, w2, n_occurrences [, keep...]) UNFILTERED —
    N2 totals over all pairs before the min_count cut (PMI is
    unstable on rare pairs, so they are dropped from the OUTPUT, not
    the denominator). `uni` carries (w, c) unigram counts. Returns
    keep + (n_occurrences, pmi).

    Both count tables are materialized: they are the Zipf-bounded
    distinct-key aggregates — NOT the corpus-sized token stream — and
    each feeds its own total plus the scoring join, so holding them
    holds the pipeline to one corpus pass per count
    table. Marginals and totals join back by broadcast; nothing here
    shuffles more than |vocab| rows."""
    from mpi_word_count_spark.operators import materialize

    uni = materialize(uni)
    pairs = materialize(pairs)
    n1 = uni.agg(F.sum("c").alias("n1_total"))
    n2 = pairs.agg(F.sum("n_occurrences").alias("n2_total"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        pairs.filter(F.col("n_occurrences") >= min_count)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            *keep,
            "n_occurrences",
            F.round(
                F.log(
                    (F.col("n_occurrences") / F.col("n2_total"))
                    / (
                        (F.col("c1") / F.col("n1_total"))
                        * (F.col("c2") / F.col("n1_total"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )


def bigram_pmi(df: DataFrame, min_count: int = 5, k: int | None = 50) -> DataFrame:
    """Pointwise mutual information of corpus bigrams — collocation
    detection (the signal behind phrase merging in LM tokenizers).
    Formula, min_count semantics, and plan shape: pmi_score_pairs."""
    uni = ngram_counts(df, n=1).select(
        F.col("ngram").alias("w"), F.col("n_occurrences").alias("c")
    )
    big = ngram_counts(df, n=2).select(
        "ngram",
        "n_occurrences",
        F.split(F.col("ngram"), " ").getItem(0).alias("w1"),
        F.split(F.col("ngram"), " ").getItem(1).alias("w2"),
    )
    scored = pmi_score_pairs(big, uni, min_count, keep=["ngram"])
    if k is not None:
        scored = scored.orderBy(F.desc("pmi"), F.asc("ngram")).limit(k)
    return scored


def skipgram_pmi(
    df: DataFrame,
    window: int = 2,
    min_count: int = 5,
    k: int | None = 50,
) -> DataFrame:
    """Windowed co-occurrence PMI — the skip-gram statistic behind
    count-based word embeddings (word2vec/GloVe prep): every unordered
    token pair within ±`window` positions, scored

      pmi(w1,w2) = ln( (c12/N2) / ((c1/N1)·(c2/N1)) )

    bigram_pmi sees only ADJACENT pairs; this widens the context.
    Pairs are canonicalized (least, greatest) so (a,b) and (b,a)
    accumulate together.

    Scale shape: pair generation happens INSIDE the token array (one
    guarded transform per offset, concatenated then exploded) — no
    window function, no self-join, no positional shuffle; the fan-out
    is a fixed ×window per token. Both aggregations are the flagship
    word-count plan (partial agg → shuffle of distinct keys); unigram
    marginals and the two totals join back by broadcast. The top-k
    cutoff orders on (count, pair) — integers and strings, so the
    LIMIT boundary is deterministic cross-engine (a PMI-ordered
    cutoff could tie on rounded floats)."""
    from mpi_word_count_spark.operators import widen

    staged = widen(df).select(tokens_col("text").alias("_toks"))
    toks = F.col("_toks")

    def pairs_at(off: int):
        el = F.element_at
        return F.when(
            F.size(toks) > off,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - off),
                lambda i: F.concat_ws(
                    " ",
                    F.least(el(toks, i), el(toks, i + off)),
                    F.greatest(el(toks, i), el(toks, i + off)),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    all_pairs = F.concat(*[pairs_at(off) for off in range(1, window + 1)])
    pc = (
        staged.select(F.explode(all_pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select(
            F.split(F.col("pair"), " ").getItem(0).alias("w1"),
            F.split(F.col("pair"), " ").getItem(1).alias("w2"),
            "n_occurrences",
        )
    )
    uni = (
        staged.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = pmi_score_pairs(pc, uni, min_count, keep=["w1", "w2"])
    if k is not None:
        scored = scored.orderBy(
            F.desc("n_occurrences"), F.asc("w1"), F.asc("w2")
        ).limit(k)
    return scored


def tfidf_top_terms(df: DataFrame, k: int = 1) -> DataFrame:
    """Top-k TF-IDF terms per document: tf·ln(N/df), ties on term.

    df (document frequency) aggregates once over (term, doc) pairs
    and joins back — both shuffles are on the term key. N is bound as
    a literal (one count job) rather than a cross join."""
    n_docs = df.count()
    toks = df.select(
        F.col("doc_id").alias("doc_id"), F.explode(tokens_col("text")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(docfreq, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4).alias(
            "tfidf"
        ),
    )
    return topk_per_group(
        scored, ["doc_id"], [F.desc("tfidf"), F.asc("term")], k=k, rank_col="rank"
    )


def seq_length_histogram(df: DataFrame) -> DataFrame:
    """Power-of-two token-length histogram of the corpus: one row per
    bucket [2^k, 2^(k+1)) with doc count, total tokens, and doc share
    — the first chart anyone draws before choosing a training sequence
    length / packing strategy.

    The bucket index is INTEGER arithmetic end to end: k+1 is the bit
    length of n_tokens (length of its binary representation), and the
    bucket bounds are 64-bit shifts — no log2(), whose libm rounding
    at exact powers of two differs between engines. Zero-token docs
    get the degenerate [0, 2) bucket. One narrow scan + one tiny
    aggregation (≤ ~40 buckets at any corpus size); the share
    denominator is a window over the bucket aggregate, not a second
    scan.
    """
    from mpi_word_count_spark.functions.parity import portable_round
    from mpi_word_count_spark.operators import widen

    n = F.size(tokens_col("text"))
    staged = widen(df).select(
        F.col("doc_id").alias("doc_id"), n.cast("bigint").alias("n_tokens")
    )
    # shiftleft's bit count is column-valued here, which only the SQL
    # form accepts (the Python wrapper requires a literal int)
    lo = F.expr(
        "CASE WHEN n_tokens > 0 THEN "
        "shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens)) - 1) "
        "ELSE CAST(0 AS BIGINT) END"
    )
    hi = F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens)))")
    agged = (
        staged.select(
            lo.cast("bigint").alias("bucket_lo"),
            hi.cast("bigint").alias("bucket_hi"),
            "n_tokens",
        )
        .groupBy("bucket_lo", "bucket_hi")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    return (
        agged.withColumn(
            "doc_share", portable_round(F.col("n_docs") / total, 4)
        )
        .select("bucket_lo", "bucket_hi", "n_docs", "total_tokens", "doc_share")
        .orderBy("bucket_lo")
    )



def unigram_logprob(df: DataFrame) -> DataFrame:
    """Corpus-unigram-LM quality score (the CCNet-style filter): train
    p(w) = count(w)/N on the corpus itself, score each document by the
    mean token ln p(w). Low scorers are boilerplate/garbage (rare-token
    soup); implausibly high scorers are stopword soup — both tails get
    cut by a downstream filter.

    Shape at 100 TB: one tokenize pass feeds BOTH the vocabulary
    aggregation and the scoring join; the vocab is Zipf-concentrated
    so the token equi-join is the same shuffle profile as the word
    count itself, and N is a 1-row broadcast. No Python, no UDFs —
    ln is JVM codegen."""
    toks = df.select(
        F.col("doc_id").alias("doc_id"), F.explode(tokens_col("text")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.agg(F.sum("c").alias("n_total"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") / F.col("n_total"))), 4).alias(
                "avg_logprob"
            ),
        )
    )


def positional_index(df: DataFrame) -> DataFrame:
    """Positional inverted-index postings: one row per (token, doc)
    with term frequency, first occurrence, and the full 1-based
    position list (comma-joined for a stable scalar encoding) — the
    IR primitive behind phrase queries and proximity scoring, and the
    positional superset of wordcount_per_doc (word_count_mpi.c's
    per-file counts never track WHERE a word occurs).

    Plan: narrow tokenize → posexplode (no shuffle), then ONE shuffle
    on (token, doc_id). Position lists are bounded by per-document
    term frequency, never corpus size, so the aggregation state stays
    small however large the corpus; at 100 TB the postings would be
    written bucketed by token so phrase-query joins co-locate.
    """
    from mpi_word_count_spark.operators import widen
    from mpi_word_count_spark.operators.dedup import tokens_col

    toks = widen(df).select(
        F.col("doc_id").alias("doc_id"), tokens_col("text").alias("_toks")
    )
    posted = toks.select(
        "doc_id", F.posexplode("_toks").alias("pos0", "token")
    ).select("doc_id", "token", (F.col("pos0") + 1).alias("pos"))
    return posted.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.min("pos").alias("first_pos"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("pos")), lambda p: p.cast("string")
            ),
        ).alias("positions"),
    )
