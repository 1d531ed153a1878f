"""Corpus-curation operators for LLM-training-data pipelines:
benchmark decontamination, deterministic corpus mixing, shard
assignment, and dedup-aware train/validation splitting.

These are the steps between "deduplicated corpus" and "training
shards" in a production data pipeline. All randomness is md5-derived
(functions/hashing.py) so every operator is bit-reproducible across
engines — resampling a 100 TB corpus must not change with partition
count, task retries, or engine version, and the DuckDB oracle can
verify each pipeline end to end.

Scale notes per operator:
- contamination: the benchmark side is SMALL by nature (an eval set,
  thousands of docs) — its distinct shingles broadcast; the corpus is
  touched in ONE narrow pass (tokenize → shingle → hash-join against
  the broadcast). No corpus self-join, no shuffle of text.
- mixture/sampling: pure per-row hash predicates — no shuffle at all
  before the tiny per-group count aggregation.
- shards: the per-shard ordering sorts WITHIN hash partitions
  (repartition(shard) + sortWithinPartitions ≡ window per shard) —
  never a global sort; 100 TB shuffles once on the shard key, which
  is the write partitioning you want anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import hash32
from mpi_word_count_spark.operators.dedup import doc_shingles

# 8-gram shingles: the published decontamination granularity range
# (PaLM used 8-grams, GPT-3 13-grams); 3-grams flag ~everything.
CONTAMINATION_NGRAM = 8


def benchmark_contamination(
    docs: DataFrame,
    bench_filter: Column,
    n: int = CONTAMINATION_NGRAM,
) -> DataFrame:
    """Flag corpus documents sharing any word n-gram with a benchmark
    set (train/test contamination scan).

    Returns one row per CONTAMINATED corpus doc: (doc_id, n_shared,
    n_shingles, contamination) where contamination = shared distinct
    shingles / doc's distinct shingles.
    """
    bench_shingles = (
        doc_shingles(docs.filter(bench_filter), n=n)
        .select("shingle")
        .distinct()
    )
    corpus_sh = doc_shingles(docs.filter(~bench_filter), n=n)
    sizes = corpus_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        corpus_sh.join(F.broadcast(bench_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    from mpi_word_count_spark.functions.parity import portable_round

    return shared.join(sizes, "doc_id").select(
        "doc_id",
        "n_shared",
        "n_shingles",
        portable_round(F.col("n_shared") / F.col("n_shingles"), 4).alias(
            "contamination"
        ),
    )


def sample_hash(id_col: Column | str, seed: str) -> Column:
    """Deterministic per-row sampling hash in [0, 10000): md5-derived,
    so sampling decisions survive retries/repartitioning and replicate
    in the oracle. 10000 buckets → rate granularity 0.01%."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return hash32(c.cast("string"), seed) % 10000


def mixture_keep_col(stratum_col: str, weights: dict[str, float]) -> Column:
    """Boolean keep-predicate for hash-threshold mixture sampling —
    the ONE definition both corpus_mixture and the end-to-end pipeline
    share. Thresholds are INTEGER bucket counts (int(round(w·10000))),
    never float products: 0.07·10000 is 700.0000000000001 in binary64,
    which would keep bucket 700 while an integer-CASE oracle drops it
    — a one-row hash divergence at the bucket boundary."""
    w = F.create_map(
        *[
            x
            for lang, wt in weights.items()
            for x in (F.lit(lang), F.lit(int(round(wt * 10000))))
        ]
    )
    thresh = F.coalesce(w[F.col(stratum_col)], F.lit(10000))
    return sample_hash("doc_id", "mix") < thresh


def corpus_mixture(
    docs: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "lang",
) -> DataFrame:
    """Deterministic domain/language re-weighting: keep each doc with
    its stratum's probability, by hash threshold (doc-stable, not
    partition-random like df.sample). Returns the per-stratum audit:
    (stratum, n_docs, n_kept, achieved_rate).

    This is the training-mixture step (e.g. downweight overrepresented
    English) — and the audit output is what you actually stare at
    before committing a 100 TB job.
    """
    from mpi_word_count_spark.functions.parity import portable_round

    kept = mixture_keep_col(stratum_col, weights)
    return (
        docs.select(F.col(stratum_col).alias("stratum"), kept.cast("int").alias("_kept"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_kept").alias("n_kept"),
            portable_round(F.sum("_kept") / F.count(F.lit(1)), 4).alias(
                "achieved_rate"
            ),
        )
    )


def hash_order_rank(
    df: DataFrame,
    partition_col: str,
    seed: str = "shard",
) -> DataFrame:
    """`pos` = row_number in deterministic md5-hash order WITHIN each
    partition_col group — the ONE ranked-by-hash idiom shuffled_shards
    and quota_sample share (tie-break is (hash, id); changing the
    convention here changes every consumer together). Adds `_h` (the
    hash key) and `pos`; one shuffle on partition_col, per-group sort
    only — never a global sort."""
    h = hash32(F.col("doc_id").cast("string"), seed)
    win = Window.partitionBy(partition_col).orderBy("_h", "doc_id")
    return df.withColumn("_h", h).withColumn("pos", F.row_number().over(win))



def shuffled_shards(
    df: DataFrame,
    num_shards: int = 64,
    seed: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle into training shards: each row gets
    (shard, pos) — shard by hash, position by hash order WITHIN the
    shard. Reading shards 0..N-1 sequentially replays a uniform random
    permutation of the corpus, yet no global sort ever runs: the
    window partitions by shard (one shuffle on the shard key), and
    each shard sorts independently — the exact layout a sharded
    parquet/WebDataset write wants at 100 TB.
    """
    h = hash32(F.col("doc_id").cast("string"), seed)  # full 32-bit order key
    staged = df.select(F.col("doc_id"), (h % num_shards).alias("shard"))
    return hash_order_rank(staged, "shard", seed).select("doc_id", "shard", "pos")


def epoch_shuffled_batches(
    df: DataFrame,
    epoch: int,
    num_shards: int = 16,
    batch_size: int = 32,
) -> DataFrame:
    """Multi-epoch reproducible training order: re-seed the shard
    permutation with the epoch number, then cut each shard's hash
    order into fixed-size micro-batches — (doc_id, shard, batch_idx,
    pos_in_batch).

    Every epoch is an INDEPENDENT uniform permutation (the seed folds
    the epoch into the hash), yet fully reproducible: a preempted
    training job recomputes the identical batch assignment from
    nothing but the epoch number — no stored permutation, no RNG
    state. Same scale shape as shuffled_shards: one shuffle on the
    shard key, per-shard sort only, never a global sort; batch
    boundaries are pure arithmetic on the per-shard rank.
    """
    sh = shuffled_shards(df, num_shards, seed=f"epoch{epoch}")
    pos0 = F.col("pos") - 1  # row_number is 1-based
    return sh.select(
        "doc_id",
        "shard",
        ((pos0 - pos0 % batch_size) / batch_size).cast("long").alias("batch_idx"),
        (pos0 % batch_size).cast("long").alias("pos_in_batch"),
    )


def cluster_aware_split(
    docs: DataFrame,
    clusters: DataFrame,
    train_pct: int = 90,
) -> DataFrame:
    """Train/validation split that never separates near-duplicates:
    the split hash is computed on the dedup CLUSTER id, not the doc
    id, so every member of a near-dup cluster lands on the same side
    (the leakage a doc-level split silently creates). `clusters` is
    dup_clusters() output (doc_id, cluster_id)."""
    split = F.when(
        sample_hash(F.col("cluster_id"), "split") % 100 < train_pct, F.lit("train")
    ).otherwise(F.lit("val"))
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id")
        .select("doc_id", "cluster_id", split.alias("split"))
    )


def quota_sample(
    df: DataFrame,
    quota: int = 10,
    stratum_col: str = "source",
) -> DataFrame:
    """Exact per-stratum quota sampling: the first `quota` rows of each
    stratum in deterministic hash order — (id, stratum, pos ∈ [1,quota]).

    Hash-threshold mixing (corpus_mixture) achieves a RATE per stratum;
    quota sampling achieves an exact COUNT (eval-set construction,
    per-source caps, debugging slices). The hash order makes the sample
    a uniform draw that is stable under retries, partitioning, and
    corpus growth-by-append (new docs displace old ones only by hash
    order, not arrival order).

    One shuffle on the stratum key; rank() never runs globally — each
    stratum sorts independently, and at 100 TB the per-stratum sort is
    the same work the sharded write needs anyway.
    """
    staged = df.select(F.col("doc_id"), F.col(stratum_col))
    return (
        hash_order_rank(staged, stratum_col, "quota")
        .filter(F.col("pos") <= quota)
        .select("doc_id", F.col(stratum_col).alias("stratum"), "pos")
    )


def weighted_sample(df: DataFrame, k: int, weight_col: str = "n_chars") -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per stratum:
    Efraimidis–Spirakis (A-Res). Each row gets key = ln(u) / w with
    u ~ U(0,1); the k largest keys per stratum are a weight-
    proportional sample without replacement. Quality-weighted
    subsampling is the curation step between scoring and mixing:
    "keep 100k docs per source, preferring high-quality ones,
    without hard-thresholding the quality score".

    u is md5-derived ((hash32+0.5)/2^32, never 0 or 1) so the draw is
    bit-reproducible across engines, retries, and partition counts;
    ln and the divide are binary64 in both engines, so the ranking —
    not just the rounded display value — is identical. Emits the
    integer weight, not the float key, to keep the driver hash exact.

    One shuffle on the stratum key; the rank-≤-k filter is a
    WindowGroupLimit in Spark 3.5+/4.x, so each map task keeps only
    its local top-k before the exchange — the 100 TB shape (never a
    full per-stratum sort of all rows).
    """
    u = (sample_hash_u(F.col("doc_id").cast("string"), "wsample"))
    w = F.col(weight_col).cast("double")
    keyed = df.select(
        F.col("doc_id"),
        F.col("source").alias("stratum"),
        F.col(weight_col).alias("weight"),
        (F.log(u) / w).alias("es_key"),
    )
    win = Window.partitionBy("stratum").orderBy(F.desc("es_key"), F.asc("doc_id"))
    return (
        keyed.withColumn("pos", F.row_number().over(win))
        .filter(F.col("pos") <= k)
        .select("doc_id", "stratum", "weight", "pos")
    )


def sample_hash_u(c: Column, seed: str) -> Column:
    """Deterministic uniform in (0,1): (hash32 + 0.5) / 2^32 —
    md5-derived (functions/hashing.py), exactly representable steps,
    replicated verbatim in the DuckDB oracle."""
    return (hash32(c, seed) + F.lit(0.5)) / F.lit(4294967296.0)


def curriculum_stages(
    df: DataFrame,
    n_stages: int = 4,
    n_shards: int = 16,
) -> DataFrame:
    """Curriculum ordering: stage 1..n_stages by ascending difficulty
    (equal-ish document counts), deterministic hash shuffle WITHIN the
    stage, position materialized per (stage, shard) so consumers read
    shards round-robin stage by stage — easy-to-hard training order
    without a global sort.

    Stage assignment avoids NTILE's global sort: difficulty values
    are low-cardinality (document lengths), so the exact CDF comes
    from a tiny groupBy(difficulty) histogram (thousands of rows at
    any corpus size) whose running count is windowed on the driver-
    sized aggregate and broadcast back. stage = (n_stages *
    docs_strictly_easier) DIV total — all-integer math, bit-exact in
    any engine. The only full-data shuffle is the (stage, shard)
    repartition the sharded write needs anyway; within a (stage,
    shard) cell the hash-order rank is an independent local sort.
    """
    diff = F.col("n_chars")
    hist = (
        df.groupBy(diff.alias("d"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "cum_before",
            F.sum("cnt").over(
                Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .withColumn("cum_before", F.coalesce(F.col("cum_before"), F.lit(0)))
        .withColumn("total", F.sum("cnt").over(Window.partitionBy()))
        .select(
            "d",
            (F.expr(f"{n_stages} * cum_before DIV total") + 1).alias("stage"),
        )
    )
    staged = df.join(F.broadcast(hist), diff == F.col("d")).select(
        F.col("doc_id"),
        F.col("stage"),
        (hash32(F.col("doc_id").cast("string"), "curr") % n_shards).alias("shard"),
    )
    win = Window.partitionBy("stage", "shard").orderBy(
        hash32(F.col("doc_id").cast("string"), "curro"), F.asc("doc_id")
    )
    return staged.withColumn("pos", F.row_number().over(win))


DSIR_BUCKETS = 4096  # hashed n-gram feature dimension (paper: 10^4)


def dsir_importance_weights(docs: DataFrame, target_filter: Column) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW
    document by how target-like its hashed n-gram profile is, so a
    top-k/threshold pass selects pretraining data matching a small
    target distribution (a benchmark, a curated domain).

    Features are unigrams + bigrams hashed into `DSIR_BUCKETS`
    (hash-trick bag of n-grams). Two add-1-smoothed categorical
    models are fit over the buckets — target p̂ and raw q̂ — and each
    raw document scores

        log w(doc) = Σ_grams  ln p̂[b(gram)] − ln q̂[b(gram)]

    (the paper's importance log-ratio with counts folded into the
    per-occurrence sum). Deterministic: md5-derived bucket hash, so
    the DuckDB oracle replicates bit-for-bit up to float summation.

    Returns (doc_id, n_feats, log_weight) for every raw (non-target)
    document with at least one token.

    Scale shape: the gram stream collapses to (doc, bucket) COUNTS
    immediately (map-side combinable, ≤ num_buckets rows per doc
    however long the doc), and everything downstream — the model fit,
    the broadcast of the ≤ num_buckets log-ratio table, the scoring
    join, the final doc_id shuffle — moves those thin count rows, not
    raw grams. log w folds counts as Σ c_b·r_b on BOTH engines (the
    oracle computes the identical product-sum, so grouping the sum
    this way stays hash-exact). Generate (explode) blocks projection
    collapse, so the token array is not re-inlined into the bigram
    lambda (the CollapseProject HOF trap). No corpus self-join,
    nothing global.
    """
    from mpi_word_count_spark.operators import materialize, widen
    from mpi_word_count_spark.operators.dedup import tokens_col

    t = F.col("t")
    bigrams = F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # small parquet inputs scan as one task; the md5-per-gram explode
    # below is the CPU bound stage, so restore cluster width first
    # (no-op at scale where scans already have thousands of splits)
    docs = widen(docs)
    toks = docs.select(
        F.col("doc_id").alias("doc_id"),
        target_filter.alias("_is_target"),
        tokens_col("text").alias("t"),
    )
    feats = toks.select(
        "doc_id",
        "_is_target",
        F.explode(F.concat(t, bigrams)).alias("g"),
    ).select(
        "doc_id",
        "_is_target",
        (hash32(F.col("g"), seed="dsir") % DSIR_BUCKETS).alias("b"),
    )
    # BOTH the model fit (counts) and the scoring tail read dbc: hold
    # the thin (doc, bucket) count table so the corpus-sized tokenize +
    # gram hash explode runs once, not twice
    dbc = materialize(
        feats.groupBy("doc_id", "_is_target", "b").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    counts = dbc.groupBy("b").agg(
        F.sum(F.when(F.col("_is_target"), F.col("cnt")).otherwise(0)).alias(
            "ct"
        ),
        F.sum(F.when(F.col("_is_target"), 0).otherwise(F.col("cnt"))).alias(
            "cr"
        ),
    )
    totals = counts.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.col("nt") + float(DSIR_BUCKETS)))
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + float(DSIR_BUCKETS)))
        ).alias("r"),
    )
    from mpi_word_count_spark.functions.parity import portable_round

    return (
        dbc.filter(~F.col("_is_target"))
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            portable_round(F.sum(F.col("cnt") * F.col("r")), 4).alias(
                "log_weight"
            ),
        )
    )
