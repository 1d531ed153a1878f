"""Central query registry: the driver-facing contract.

Every implemented operator from SURVEY.md §2 registers here as
  name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
The oracle SQL is ANSI SQL runnable by DuckDB over the same parquet
fixtures (views: region nation customer supplier part orders lineitem
events documents embeddings). Column names/aliases MUST match the
Spark result exactly — the driver sorts columns by name and hashes
values.

Numeric discipline for oracle parity: floating aggregates are rounded
to a fixed number of decimals on BOTH sides (summation order differs
between engines; last-bit drift would break the hash). Timestamps are
emitted as ISO strings or dates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mpi_word_count_spark.tokenizer import DEFAULT_DELIMITERS, delimiter_regex

SparkQuery = Callable[[SparkSession, str], DataFrame]

# name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def queries() -> dict[str, SparkQuery]:
    _load_all()
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


def sql_regex() -> str:
    """The tokenizer character class, escaped for embedding in a
    single-quoted SQL literal (RE2-compatible, see tokenizer.py)."""
    return delimiter_regex(DEFAULT_DELIMITERS).replace("'", "''")


_LOADED = False

# The headline queries bench.py times, in order: one entry per distinct
# plan shape across SURVEY.md §2, so a shared-plan twin (byte_bpe_merges,
# the sampled unigram segmenter) is not timed twice. dedup_method_agreement
# is left out: it re-runs the exact, MinHash, n-gram and SimHash pipelines
# whose plans the list already times, so it would only double-count them.
HEADLINE = [
    "wordcount",
    "wordcount_topk",
    "word_doc_frequency",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_regional_revenue",
    "q4_late_order_priority",
    "top3_orders_per_customer",
    "user_session_counts",
    "exact_dedup",
    "minhash_lsh_dups",
    "dedup_clusters",
    "trade_graph_pagerank",
    "simhash_fingerprints",
    "ann_bruteforce",
    "ann_lsh",
    "token_stats",
    "quality_scores",
    "model_quality_scores",
    "clean_corpus_summary",
    "streaming_wordcount",
    "benchmark_contamination",
    "shuffled_shards",
    "q21_waiting_suppliers",
    "segment_dedup_summary",
    "training_shard_manifest",
    "repetition_scores",
    "semantic_dedup",
    "curation_funnel",
    "q9_product_profit",
    "edit_distance_dups",
    "incremental_exact_dedup",
    "incremental_minhash_dups",
    "cms_word_counts",
    "bloom_prefilter_stats",
    "duplicate_passages",
    "unigram_logprob_scores",
    "bpe_token_counts",
    "media_phash_dups",
    "ann_ivfpq",
    "session_concurrency_hourly",
    "overlapping_order_pairs",
    "semantic_contamination",
    "pii_redaction_stats",
    "weighted_sample_by_length",
    "curriculum_batches",
    "ppjoin_dups",
    "winnowing_dups",
    "hybrid_rrf_retrieval",
    "token_budget_selection",
    "embedding_norms",
    "label_centroid_spread",
    "data_quality_report",
    "events_ohlc_hourly",
    "user_erasure_audit",
    "html_boilerplate_strip",
    "unicode_nfc_stats",
    "blocklist_filter_stats",
    "trade_graph_kcore",
    "phrase_search",
    "dsir_importance_weights",
    "cdc_chunk_dups",
    "ccnet_perplexity_buckets",
    "margin_knn_alignment",
    "packing_efficiency_audit",
    "gopher_quality_flags",
    "video_frame_stats",
    "audio_window_stats",
    "unigram_segment_stats",
    "unigram_em_vocab",
    "media_decode_census",
    "media_codec_ids",
    "unigram_nbest_segments",
    "poisson_bootstrap_ci",
    "embedding_pca_power",
    "trade_graph_communities",
    "price_ols_cv",
    "k_anonymity_audit",
    "streaming_holt_forecast",
    "incremental_embedding_dups",
    "byte_bpe_token_counts",
    "streaming_embedding_dedup",
    "term_scan_census",
    "naive_bayes_confusion",
    "brand_price_mad_outliers",
]


def _load_all() -> None:
    """Import every query module so its @register calls run, then fix
    the registry's order. The order rule:

      1. the flagship ``wordcount`` first;
      2. then ``HEADLINE``, in its own order;
      3. then every other query in module-import order (the order in
         which the imports below run their @register calls).

    Why the order matters at all: the external correctness harness
    (through __spark_entry__.queries()) checks entries in insertion
    order on a fixed budget, so the flagship and the benchmarked
    queries are always checked, and the rest fill the remaining budget
    in a stable order. No query's plan or result depends on it."""
    global _LOADED
    if _LOADED:
        return
    from mpi_word_count_spark.queries import (  # noqa: F401
        advanced_queries,
        approx_queries,
        audit_queries,
        bpe_queries,
        curation_queries,
        dedup_queries,
        governance_queries,
        graph_queries,
        inference_queries,
        join_queries,
        multimodal_queries,
        pipeline_queries,
        privacy_queries,
        relational_queries,
        similarity_queries,
        stats_queries,
        streaming_queries,
        subquery_queries,
        text_queries,
        timeseries_queries,
        tpch_gap_queries,
        tpch_more_queries,
        validation_queries,
        wordcount_queries,
    )

    ordered = {n: _REGISTRY[n] for n in ["wordcount", *HEADLINE]}
    ordered.update(_REGISTRY)
    _REGISTRY.clear()
    _REGISTRY.update(ordered)
    _LOADED = True
