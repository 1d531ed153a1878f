"""Corpus-curation queries: decontamination, mixing, sharding,
dedup-aware splitting (operators/curation.py) — each with a full
DuckDB oracle via the shared md5 hash family, so the driver
value-hash-verifies the complete curation pipeline.

The "benchmark set" stands in for an external eval table (fixture has
no second corpus): docs with doc_id % 7 == 0. Weights downweight the
overrepresented language — the canonical mixture adjustment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import sql_hash32
from mpi_word_count_spark.functions.parity import portable_round, sql_portable_round
from mpi_word_count_spark.operators.curation import (
    CONTAMINATION_NGRAM,
    benchmark_contamination,
    cluster_aware_split,
    corpus_mixture,
    quota_sample,
    shuffled_shards,
)
from mpi_word_count_spark.operators.dedup import dup_clusters, minhash_lsh_pairs
from mpi_word_count_spark.queries.dedup_queries import (
    JACCARD_THRESHOLD,
    _clusters_oracle,
)
from mpi_word_count_spark.registry import register, sql_regex
from mpi_word_count_spark.tables import table

BENCH_MOD = 7  # "benchmark set" = doc_id % 7 == 0
MIXTURE_WEIGHTS = {"en": 0.5, "zh": 0.8}  # others default 1.0
NUM_SHARDS = 64
TRAIN_PCT = 90


def _sql_ngram_shingles(n: int) -> str:
    """DuckDB CTEs: distinct word n-gram shingles per doc — the n-ary
    generalization of dedup_queries._SQL_SHINGLES (same tokenizer)."""
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(t) - {n - 2}),
                   i -> {gram}))) AS shingle
        FROM toks
    )"""


@register(
    "benchmark_contamination",
    oracle=f"""
    WITH {_sql_ngram_shingles(CONTAMINATION_NGRAM)},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
    corpus AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
    shared AS (
        SELECT c.doc_id, count(*) AS n_shared
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY 1
    )
    SELECT s.doc_id, n_shared, n_shingles,
           {sql_portable_round("n_shared * 1.0 / n_shingles", 4)} AS contamination
    FROM shared s JOIN sizes z ON s.doc_id = z.doc_id
    """,
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination scan: corpus docs sharing any 8-gram
    with the benchmark set. Benchmark shingles broadcast; the corpus
    is read once, never self-joined."""
    docs = table(spark, "documents", sf_dir)
    return benchmark_contamination(docs, F.col("doc_id") % BENCH_MOD == 0)


EMB_BENCH_MOD = 23  # embedding "benchmark set" = vec_id % 23 == 0
SEMANTIC_CONTAMINATION_TAU = 0.3


def _semantic_contamination_oracle() -> str:
    from mpi_word_count_spark.queries.dedup_queries import sql_embedding_bands

    return f"""
    WITH bands AS (
{sql_embedding_bands()}
    ),
    bench AS (SELECT * FROM bands WHERE vec_id % {EMB_BENCH_MOD} = 0),
    corp AS (SELECT * FROM bands WHERE vec_id % {EMB_BENCH_MOD} <> 0),
    candidates AS (
        SELECT DISTINCT c.vec_id AS vec_id, b.vec_id AS bench_id
        FROM corp c JOIN bench b
          ON c.band = b.band AND c.bucket = b.bucket
    ),
    scored AS (
        SELECT c.vec_id,
               round(list_cosine_similarity(e1.embedding::DOUBLE[],
                                            e2.embedding::DOUBLE[]), 4)
                   AS cosine
        FROM candidates c
        JOIN embeddings e1 ON c.vec_id = e1.vec_id
        JOIN embeddings e2 ON c.bench_id = e2.vec_id
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
           max(cosine) AS max_cosine
    FROM scored WHERE cosine >= {SEMANTIC_CONTAMINATION_TAU}
    GROUP BY vec_id
    """


@register("semantic_contamination", oracle=_semantic_contamination_oracle())
def q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: corpus vectors with cosine ≥ τ
    to any benchmark vector — catches the paraphrased contamination
    the 8-gram scan (benchmark_contamination) cannot. Benchmark band
    keys AND vectors broadcast; the corpus is never shuffled or
    self-joined (the only shuffles are the candidate-pair distinct and
    the final per-vector aggregate)."""
    from mpi_word_count_spark.operators.dedup import embedding_contamination

    emb = table(spark, "embeddings", sf_dir)
    return embedding_contamination(
        emb,
        F.col("vec_id") % EMB_BENCH_MOD == 0,
        threshold=SEMANTIC_CONTAMINATION_TAU,
    )


def _mixture_threshold_sql() -> str:
    # int(round(w*10000)), matching operators.curation.mixture_keep_col
    # exactly — int(0.07*10000) would be 699, not 700
    cases = " ".join(
        f"WHEN '{k}' THEN {int(round(v * 10000))}"
        for k, v in MIXTURE_WEIGHTS.items()
    )
    return f"CASE lang {cases} ELSE 10000 END"


@register(
    "corpus_mixture",
    oracle=f"""
    SELECT lang AS stratum,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN {sql_hash32("CAST(doc_id AS VARCHAR)", "mix")}
                              % 10000 < {_mixture_threshold_sql()}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           {sql_portable_round(
               f'''sum(CASE WHEN {sql_hash32("CAST(doc_id AS VARCHAR)", "mix")}
                               % 10000 < {_mixture_threshold_sql()}
                          THEN 1 ELSE 0 END) * 1.0 / count(*)''', 4
           )} AS achieved_rate
    FROM documents GROUP BY lang
    """,
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language re-weighting audit (hash-threshold
    sampling — stable under retries and repartitioning, unlike
    df.sample)."""
    docs = table(spark, "documents", sf_dir)
    return corpus_mixture(docs, MIXTURE_WEIGHTS, stratum_col="lang")


@register(
    "shuffled_shards",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               {sql_hash32("CAST(doc_id AS VARCHAR)", "shard")} AS h
        FROM documents
    )
    SELECT doc_id,
           h % {NUM_SHARDS} AS shard,
           CAST(row_number() OVER (
               PARTITION BY h % {NUM_SHARDS} ORDER BY h, doc_id
           ) AS BIGINT) AS pos
    FROM h
    """,
)
def q_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards — per-shard
    hash order, no global sort (the window partitions on the shard
    key, which is also the write partitioning)."""
    docs = table(spark, "documents", sf_dir)
    return shuffled_shards(docs, num_shards=NUM_SHARDS)


EPOCH = 2  # exemplar epoch; any epoch number reproduces its own order
EPOCH_SHARDS = 16
EPOCH_BATCH = 32


@register(
    "epoch_shuffled_batches",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               {sql_hash32("CAST(doc_id AS VARCHAR)", f"epoch{EPOCH}")} AS h
        FROM documents
    ),
    ranked AS (
        SELECT doc_id,
               h % {EPOCH_SHARDS} AS shard,
               row_number() OVER (
                   PARTITION BY h % {EPOCH_SHARDS} ORDER BY h, doc_id
               ) - 1 AS pos0
        FROM h
    )
    SELECT doc_id, shard,
           CAST(pos0 // {EPOCH_BATCH} AS BIGINT) AS batch_idx,
           CAST(pos0 % {EPOCH_BATCH} AS BIGINT) AS pos_in_batch
    FROM ranked
    """,
)
def q_epoch_shuffled_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch reproducible training order: epoch-seeded hash
    permutation into shards, cut into fixed-size micro-batches. A
    preempted trainer reconstructs epoch N's exact batch assignment
    from the epoch number alone — no stored permutation, no RNG state,
    no global sort (one shuffle on the shard key)."""
    from mpi_word_count_spark.operators.curation import epoch_shuffled_batches

    docs = table(spark, "documents", sf_dir)
    return epoch_shuffled_batches(
        docs, epoch=EPOCH, num_shards=EPOCH_SHARDS, batch_size=EPOCH_BATCH
    )


@register(
    "cluster_aware_split",
    oracle=f"""
    SELECT doc_id, cluster_id,
           CASE WHEN ({sql_hash32("CAST(cluster_id AS VARCHAR)", "split")}
                      % 10000) % 100 < {TRAIN_PCT}
                THEN 'train' ELSE 'val' END AS split
    FROM ({_clusters_oracle()})
    """,
)
def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split hashed on the near-dup CLUSTER id, so near
    duplicates never straddle the split (the leakage a doc-level
    split silently creates). Composes the full MinHash-LSH → connected
    components pipeline with the split assignment."""
    docs = table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    return cluster_aware_split(docs, dup_clusters(docs, pairs), train_pct=TRAIN_PCT)


QUOTA_PER_SOURCE = 10


@register(
    "quota_sample_per_source",
    oracle=f"""
    SELECT doc_id, source AS stratum, CAST(pos AS BIGINT) AS pos
    FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {sql_hash32("CAST(doc_id AS VARCHAR)", "quota")},
                            doc_id
               ) AS pos
        FROM documents
    )
    WHERE pos <= {QUOTA_PER_SOURCE}
    """,
)
def q_quota_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source quota sample (first N per stratum in
    deterministic hash order) — eval-set construction / per-source
    caps; the COUNT-exact complement of corpus_mixture's RATE
    sampling. Integer outputs, bitwise oracle."""
    docs = table(spark, "documents", sf_dir)
    return quota_sample(docs, quota=QUOTA_PER_SOURCE, stratum_col="source")


@register(
    "snapshot_diff",
    oracle="""
    WITH v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 0 THEN text || ' revised'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 19 <> 0
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 23 = 0
    ),
    j AS (
        SELECT md5(a.text) AS h1, md5(b.text) AS h2
        FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT CASE WHEN h1 IS NULL THEN 'added'
                WHEN h2 IS NULL THEN 'removed'
                WHEN h1 <> h2 THEN 'modified'
                ELSE 'unchanged' END AS change_type,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM j GROUP BY 1
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff — the change manifest between two corpus
    snapshots (the audit a versioned 100 TB dataset produces on every
    refresh: what was added, removed, or edited since v1?).

    v2 is derived deterministically from the fixture (drop doc_id
    multiples of 19, append an edit marker to multiples of 17, re-add
    multiples of 23 under shifted ids), so both engines diff the same
    pair. The diff itself is the production shape: ONE full-outer
    hash join on the snapshot key comparing content hashes — never a
    text comparison (16-byte digests shuffle instead of documents),
    never a second scan per change class."""
    docs = table(spark, "documents", sf_dir)
    v2 = (
        docs.filter(F.col("doc_id") % 19 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 17 == 0, F.concat("text", F.lit(" revised"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .union(
            docs.filter(F.col("doc_id") % 23 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    a = docs.select("doc_id", F.md5("text").alias("h1"))
    b = v2.select("doc_id", F.md5("text").alias("h2"))
    return (
        a.join(b, "doc_id", "full")
        .select(
            F.when(F.col("h1").isNull(), F.lit("added"))
            .when(F.col("h2").isNull(), F.lit("removed"))
            .when(F.col("h1") != F.col("h2"), F.lit("modified"))
            .otherwise(F.lit("unchanged"))
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# target language distribution for the mixture planner, in integer
# percent (sums to 100) — integer math end to end so the plan is
# bit-identical cross-engine
MIXTURE_TARGET_PCT = {"en": 40, "zh": 20, "de": 15, "fr": 15, "es": 10}


@register(
    "mixture_plan",
    oracle=f"""
    WITH tgt(lang, pct) AS (VALUES {", ".join(
        f"('{lang}', {pct})" for lang, pct in sorted(MIXTURE_TARGET_PCT.items())
    )}),
    counts AS (
        SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs, t.pct
        FROM documents d JOIN tgt t ON t.lang = d.lang
        GROUP BY 1, 3
    ),
    cap AS (SELECT min(n_docs * 100 // pct) AS s FROM counts)
    SELECT c.lang, c.n_docs, c.pct AS target_pct,
           CAST(cap.s * c.pct // 100 AS BIGINT) AS planned_docs,
           {{rate}} AS accept_rate
    FROM counts c CROSS JOIN cap
    """.replace(
        "{rate}",
        "floor((cap.s * c.pct // 100) * 10000.0 / c.n_docs) / 10000",
    ),
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture planner — the data-recipe step BEFORE mixing:
    given a target language distribution, find the largest corpus
    size S achievable without upsampling (S = min over langs of
    available/share) and the per-language acceptance rates that hit
    it. corpus_mixture applies fixed rates; this computes them from
    the target — what a DoReMi-style recipe iteration recomputes
    every round.

    All planning arithmetic is integer (percent shares, floor
    divisions), so the plan is bit-identical cross-engine; only the
    final acceptance rate is a ratio, floored at 4 decimals on both
    sides. One groupBy over the corpus + a 1-row broadcast cap."""
    docs = table(spark, "documents", sf_dir)
    tgt = spark.createDataFrame(
        sorted(MIXTURE_TARGET_PCT.items()), "lang string, pct int"
    )
    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(F.broadcast(tgt), "lang")
    )
    cap = counts.agg(
        F.min(F.expr("n_docs * 100 div pct")).alias("s")
    )
    planned = F.expr("s * pct div 100")
    return (
        counts.crossJoin(F.broadcast(cap))
        .select(
            "lang",
            "n_docs",
            F.col("pct").alias("target_pct"),
            planned.cast("bigint").alias("planned_docs"),
            (
                F.floor(planned * 10000 / F.col("n_docs")) / 10000
            ).alias("accept_rate"),
        )
    )


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH toks AS (
        SELECT source,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source, unnest(list_distinct(list_transform(
                   range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        FROM toks
    ),
    sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_shared,
           round(n_shared * 1.0 / (za.n + zb.n - n_shared), 4) AS jaccard
    FROM shared
    JOIN sizes za ON src_a = za.source
    JOIN sizes zb ON src_b = zb.source
    """,
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source duplication audit: pairwise Jaccard of each
    source's distinct 3-gram shingle vocabulary — the matrix that
    tells a corpus curator which feeds re-publish each other (high
    off-diagonal mass = syndication; dedup those pairs first).

    Scale shape: the corpus collapses to DISTINCT (source, shingle)
    in one aggregation before any join; the self-join then runs over
    source-level vocabularies (bounded by vocab × #sources, not
    corpus size) and the output is #sources², a constant-sized
    artifact however large the input.
    """
    from mpi_word_count_spark.operators import widen
    from mpi_word_count_spark.operators.dedup import (
        shingles_from_tokens,
        tokens_col,
    )

    docs = table(spark, "documents", sf_dir)
    toks = widen(docs).select("source", tokens_col("text").alias("_toks"))
    sh = toks.select(
        "source",
        F.explode(shingles_from_tokens(F.col("_toks"), 3)).alias("shingle"),
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    return (
        shared.join(za, F.col("src_a") == F.col("za.source"))
        .join(zb, F.col("src_b") == F.col("zb.source"))
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("za.n") + F.col("zb.n") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
    )


TOKEN_BUDGET = 10_000


@register(
    "token_budget_selection",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                               x -> x <> '')) AS n_tokens,
               len(list_distinct(list_filter(
                   string_split_regex(lower(text), '{sql_regex()}'),
                   x -> x <> ''))) AS n_distinct
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens,
               (1000 * n_distinct) // n_tokens AS score_milli,
               CAST(sum(n_tokens) OVER (
                   ORDER BY (1000 * n_distinct) // n_tokens DESC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM scored WHERE n_tokens > 0
    )
    SELECT doc_id, score_milli, n_tokens, cum_tokens
    FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
)
def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: keep the highest-quality docs
    (integer milli-score = 1000·distinct/total tokens, the lexical
    diversity proxy) whose running token total fits a fixed budget —
    the "best N tokens" planning step of a compute-bounded training
    run.

    Scale shape: the oracle's single global cumsum window is replaced
    by the TWO-PASS decomposition — per-score-bucket token sums (one
    small agg over ≤1001 integer buckets) broadcast as cumulative
    offsets, then a within-bucket window ordered by doc_id. Equal to
    the global window because the global order (score desc, doc_id)
    is exactly (bucket desc) then (doc_id within bucket); no global
    sort ever runs over the corpus.
    """
    from pyspark.sql import Window

    from mpi_word_count_spark.operators import widen
    from mpi_word_count_spark.operators.dedup import tokens_col

    docs = table(spark, "documents", sf_dir)
    scored = (
        widen(docs)
        .select(
            "doc_id",
            F.size(tokens_col("text")).alias("n_tokens"),
            F.size(F.array_distinct(tokens_col("text"))).alias("n_distinct"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            F.expr("(1000 * n_distinct) div n_tokens").alias("score_milli"),
        )
    )
    bucket_sums = scored.groupBy("score_milli").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    w_off = Window.orderBy(F.desc("score_milli")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_sums.select(
        "score_milli",
        F.coalesce(F.sum("bucket_tokens").over(w_off), F.lit(0)).alias(
            "offset"
        ),
    )
    w_in = (
        Window.partitionBy("score_milli")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        scored.join(F.broadcast(offsets), "score_milli")
        .select(
            "doc_id",
            "score_milli",
            "n_tokens",
            (F.col("offset") + F.sum("n_tokens").over(w_in))
            .cast("bigint")
            .alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
    )


@register(
    "lang_source_pmi",
    oracle=f"""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ),
    lm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM cells GROUP BY 1),
    sm AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells)
    SELECT c.lang, c.source, c.n,
           {sql_portable_round(
               "ln((c.n * 1.0 * t.nt) / (l.nl * 1.0 * s.ns))", 4
           )} AS pmi
    FROM cells c
    JOIN lm l ON c.lang = l.lang
    JOIN sm s ON c.source = s.source
    CROSS JOIN tot t
    """,
)
def q_lang_source_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition audit: pointwise mutual information between
    language and source for every observed (lang, source) cell —
    strong positive PMI means a source is a de-facto single-language
    feed (mixture reweighting by lang then double-counts it by
    source); PMI ≈ 0 everywhere means the two strata are independent
    and can be planned separately (corpus_mixture / mixture_plan
    assume exactly that).

    Scale shape: one (lang, source) count aggregate — partial-agg
    before the exchange — then marginal rollups and joins over cell
    rows (|langs|·|sources|), constant-sized however large the
    corpus.
    """
    docs = table(spark, "documents", sf_dir)
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    lm = cells.groupBy("lang").agg(F.sum("n").cast("bigint").alias("nl"))
    sm = cells.groupBy("source").agg(F.sum("n").cast("bigint").alias("ns"))
    tot = cells.agg(F.sum("n").cast("bigint").alias("nt"))
    pmi = F.log(
        (F.col("n") * F.col("nt")) / (F.col("nl") * F.col("ns"))
    )
    return (
        cells.join(F.broadcast(lm), "lang")
        .join(F.broadcast(sm), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n",
            portable_round(pmi, 4).alias("pmi"),
        )
    )


def _split_leakage_oracle() -> str:
    ctes, final = __import__(
        "mpi_word_count_spark.queries.dedup_queries", fromlist=["_minhash_parts"]
    )._minhash_parts()
    naive = f"(({sql_hash32('CAST({d} AS VARCHAR)', 'split')} % 10000) % 100 < {TRAIN_PCT})"
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({final}),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs
        UNION SELECT d2, d1 FROM pairs
    ),
    reach(v, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.v = e.src
    ),
    labels AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
    naive AS (
        SELECT count(*) AS n_pairs,
               CAST(sum(CASE WHEN {naive.format(d='d1')}
                             <> {naive.format(d='d2')}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
        FROM pairs
    ),
    clustered AS (
        SELECT count(*) AS n_pairs,
               CAST(sum(CASE WHEN {naive.format(d='la.cluster_id')}
                             <> {naive.format(d='lb.cluster_id')}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
        FROM pairs p
        JOIN labels la ON p.d1 = la.doc_id
        JOIN labels lb ON p.d2 = lb.doc_id
    )
    SELECT 'doc_hash' AS split_scheme, CAST(n_pairs AS BIGINT) AS n_pairs,
           n_straddling,
           CAST(CASE WHEN n_pairs > 0 THEN (1000 * n_straddling) // n_pairs
                     ELSE 0 END AS BIGINT) AS leakage_milli
    FROM naive
    UNION ALL
    SELECT 'cluster_hash', CAST(n_pairs AS BIGINT), n_straddling,
           CAST(CASE WHEN n_pairs > 0 THEN (1000 * n_straddling) // n_pairs
                     ELSE 0 END AS BIGINT)
    FROM clustered
    """


@register("split_leakage_audit", oracle=_split_leakage_oracle())
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val leakage audit: of all MinHash near-dup pairs, how
    many straddle the split boundary under (a) a naive doc_id-hash
    split and (b) the cluster-aware split (hash on the near-dup
    cluster id)? The cluster-aware row is 0 BY CONSTRUCTION — this
    query turns that guarantee into a measured, driver-verified
    number beside the naive split's real leakage rate (the argument
    for cluster_aware_split, quantified on the corpus itself).

    Scale shape: both audits run over the already-aggregated pair
    table joined to the label table — near-dup-pair-sized inputs,
    two-row output.
    """
    from mpi_word_count_spark.operators.curation import sample_hash

    docs = table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    labels = dup_clusters(docs, pairs)

    def is_train(c):
        return (sample_hash(c.cast("string"), "split") % 100) < TRAIN_PCT

    la, lb = labels.alias("la"), labels.alias("lb")
    with_labels = pairs.join(
        la, pairs.d1 == F.col("la.doc_id")
    ).join(lb, pairs.d2 == F.col("lb.doc_id"))
    straddle_naive = F.sum(
        F.when(is_train(F.col("d1")) != is_train(F.col("d2")), 1).otherwise(0)
    )
    straddle_cluster = F.sum(
        F.when(
            is_train(F.col("la.cluster_id")) != is_train(F.col("lb.cluster_id")),
            1,
        ).otherwise(0)
    )
    agg = with_labels.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        straddle_naive.cast("bigint").alias("s_naive"),
        straddle_cluster.cast("bigint").alias("s_cluster"),
    )
    leak = lambda s: F.when(  # noqa: E731
        F.col("n_pairs") > 0, F.expr(f"(1000 * {s}) div n_pairs")
    ).otherwise(F.lit(0)).cast("bigint")
    return agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("doc_hash").alias("split_scheme"),
                    F.col("n_pairs").cast("bigint").alias("n_pairs"),
                    F.col("s_naive").alias("n_straddling"),
                    leak("s_naive").alias("leakage_milli"),
                ),
                F.struct(
                    F.lit("cluster_hash").alias("split_scheme"),
                    F.col("n_pairs").cast("bigint").alias("n_pairs"),
                    F.col("s_cluster").alias("n_straddling"),
                    leak("s_cluster").alias("leakage_milli"),
                ),
            )
        ).alias("row")
    ).select("row.*")


COVERAGE_ROUNDS = 5


def _greedy_coverage_oracle(rounds: int = COVERAGE_ROUNDS) -> str:
    ctes = [
        f"""src_sh AS (
        SELECT DISTINCT source, unnest(list_distinct(list_transform(
                   range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        FROM (SELECT source,
                     list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                                 x -> x <> '') AS t
              FROM documents)
    )""",
        "cov_0(shingle) AS (SELECT '' WHERE 1 = 0)",
        "picks_0(round, source, new_shingles) AS "
        "(SELECT 0, '', 0::BIGINT WHERE 1 = 0)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""cnt_{r} AS (
        SELECT s.source, CAST(count(*) AS BIGINT) AS cnt
        FROM src_sh s
        WHERE s.source NOT IN (SELECT source FROM picks_{r - 1})
          AND s.shingle NOT IN (SELECT shingle FROM cov_{r - 1})
        GROUP BY 1
    )"""
        )
        ctes.append(
            f"b_{r} AS (SELECT source, cnt FROM cnt_{r} "
            f"ORDER BY cnt DESC, source ASC LIMIT 1)"
        )
        ctes.append(
            f"""cov_{r} AS (
        SELECT shingle FROM cov_{r - 1}
        UNION
        SELECT shingle FROM src_sh
        WHERE source IN (SELECT source FROM b_{r})
    )"""
        )
        ctes.append(
            f"""picks_{r} AS (
        SELECT * FROM picks_{r - 1}
        UNION ALL
        SELECT {r}, source, cnt FROM b_{r}
    )"""
        )
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT round, source, new_shingles,
           CAST(sum(new_shingles) OVER (ORDER BY round
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_coverage
    FROM picks_{rounds}
    """


@register("greedy_source_coverage", oracle=_greedy_coverage_oracle())
def q_greedy_source_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage source selection: pick, over 5 rounds, the
    source contributing the most NOT-YET-COVERED shingles (ties by
    source name) — the submodular-maximization step behind "which
    feeds should we license/crawl first", with the classic (1−1/e)
    greedy guarantee. The oracle UNROLLS all five greedy rounds as
    chained CTEs (the BPE-merge/k-means/PageRank oracle technique
    applied to a data-dependent selection loop), so even the
    iterative pick sequence is value-hash-verified.

    Scale shape: per round, ONE anti-join of the (source, shingle)
    table against the covered set (vocabulary-bounded) and a 20-row
    argmax pulled to the driver — the loop state is source names,
    never corpus data.
    """
    from mpi_word_count_spark.operators import materialize, widen
    from mpi_word_count_spark.operators.dedup import (
        shingles_from_tokens,
        tokens_col,
    )

    docs = table(spark, "documents", sf_dir)
    toks = widen(docs).select("source", tokens_col("text").alias("_toks"))
    src_sh = materialize(
        toks.select(
            "source",
            F.explode(shingles_from_tokens(F.col("_toks"), 3)).alias("shingle"),
        ).distinct()
    )
    chosen: list[str] = []
    covered = None
    rows = []
    cum = 0
    for r in range(1, COVERAGE_ROUNDS + 1):
        remaining = src_sh
        if chosen:
            remaining = remaining.filter(~F.col("source").isin(chosen))
        if covered is not None:
            remaining = remaining.join(covered, "shingle", "left_anti")
        counts = remaining.groupBy("source").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        best = counts.orderBy(F.desc("cnt"), F.asc("source")).first()
        chosen.append(best["source"])
        cum += best["cnt"]
        rows.append((r, best["source"], best["cnt"], cum))
        picked = src_sh.filter(F.col("source") == best["source"]).select(
            "shingle"
        )
        covered = materialize(
            picked if covered is None else covered.union(picked).distinct()
        )
    return spark.createDataFrame(
        rows, "round int, source string, new_shingles bigint, cum_coverage bigint"
    )


def _contrastive_oracle() -> str:
    from mpi_word_count_spark.registry import _REGISTRY

    mh = _REGISTRY["minhash_lsh_dups"][1]
    neg = sql_hash32(
        "CAST(p.d1 AS VARCHAR) || ':' || CAST(p.d2 AS VARCHAR)", "neg"
    )
    return f"""
    WITH pairs AS MATERIALIZED (SELECT DISTINCT d1, d2 FROM ({mh})),
    n AS (SELECT count(*) AS n_docs FROM documents),
    trip AS (
        SELECT p.d1 AS anchor, p.d2 AS positive,
               {neg} % n.n_docs AS negative
        FROM pairs p CROSS JOIN n
    )
    SELECT t.anchor, t.positive, t.negative,
           (t.negative <> t.anchor AND t.negative <> t.positive
            AND qa.d1 IS NULL AND qp.d1 IS NULL) AS negative_clean
    FROM trip t
    LEFT JOIN pairs qa ON qa.d1 = least(t.anchor, t.negative)
                      AND qa.d2 = greatest(t.anchor, t.negative)
    LEFT JOIN pairs qp ON qp.d1 = least(t.positive, t.negative)
                      AND qp.d2 = greatest(t.positive, t.negative)
    ORDER BY anchor, positive
    """


@register("contrastive_triplets", oracle=_contrastive_oracle())
def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets from the dedup signal: every
    MinHash near-dup pair becomes (anchor, positive); the negative is
    a deterministic hash-draw over the dense doc_id space —
    hash32("neg:" + d1:d2) mod n_docs — so the SAME triplet set is
    reproducible on any engine or re-run (the property epoch-seeded
    training pipelines need; cf. epoch_shuffled_batches). Rather than
    silently fixing hash collisions, each triplet carries
    negative_clean: false when the draw hit the anchor/positive or a
    known near-dup of either — trainers filter on it, and the flag
    itself is value-hash-verified.

    Scale shape: the pair set is dup-pair-sized; n_docs is a 1-row
    broadcast; the two clean-check probes are equi-joins against the
    (small) pair set on (least, greatest) keys. Nothing corpus-sized
    shuffles — the corpus contributes only its count."""
    from mpi_word_count_spark.functions.hashing import hash32
    from mpi_word_count_spark.queries.dedup_queries import q_minhash_lsh_dups

    pairs = q_minhash_lsh_dups(spark, sf_dir).select("d1", "d2").distinct()
    from mpi_word_count_spark.operators import materialize

    pairs = materialize(pairs)
    n = table(spark, "documents", sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    trip = pairs.crossJoin(F.broadcast(n)).select(
        F.col("d1").alias("anchor"),
        F.col("d2").alias("positive"),
        (
            hash32(F.concat_ws(":", F.col("d1"), F.col("d2")), seed="neg")
            % F.col("n_docs")
        ).alias("negative"),
    )
    qa = pairs.select(F.col("d1").alias("qa1"), F.col("d2").alias("qa2"))
    qp = pairs.select(F.col("d1").alias("qp1"), F.col("d2").alias("qp2"))
    return (
        trip.join(
            F.broadcast(qa),
            (F.least("anchor", "negative") == F.col("qa1"))
            & (F.greatest("anchor", "negative") == F.col("qa2")),
            "left",
        )
        .join(
            F.broadcast(qp),
            (F.least("positive", "negative") == F.col("qp1"))
            & (F.greatest("positive", "negative") == F.col("qp2")),
            "left",
        )
        .select(
            "anchor",
            "positive",
            "negative",
            (
                (F.col("negative") != F.col("anchor"))
                & (F.col("negative") != F.col("positive"))
                & F.col("qa1").isNull()
                & F.col("qp1").isNull()
            ).alias("negative_clean"),
        )
        .orderBy("anchor", "positive")
    )


def _vocab_drift_oracle() -> str:
    return f"""
    WITH v2docs AS (
        SELECT doc_id,
               CASE WHEN doc_id % 17 = 0 THEN text || ' revised drift'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 19 <> 0
    ),
    w1 AS (
        SELECT lower(unnest(regexp_split_to_array(text, '{sql_regex()}')))
            AS word
        FROM documents
    ),
    w2 AS (
        SELECT lower(unnest(regexp_split_to_array(text, '{sql_regex()}')))
            AS word
        FROM v2docs
    ),
    c1 AS (SELECT word, count(*) AS n FROM w1 WHERE word <> '' GROUP BY 1),
    c2 AS (SELECT word, count(*) AS n FROM w2 WHERE word <> '' GROUP BY 1),
    tot AS (
        SELECT (SELECT sum(n) FROM c1) AS n1, (SELECT sum(n) FROM c2) AS n2
    ),
    joined AS (
        SELECT coalesce(c1.word, c2.word) AS word,
               coalesce(c1.n, 0) AS count_v1,
               coalesce(c2.n, 0) AS count_v2,
               tot.n1, tot.n2
        FROM c1 FULL OUTER JOIN c2 ON c1.word = c2.word
        CROSS JOIN tot
    )
    SELECT word,
           CAST(count_v1 AS BIGINT) AS count_v1,
           CAST(count_v2 AS BIGINT) AS count_v2,
           CAST(1000000 * count_v1 // n1 AS BIGINT) AS share_v1_ppm,
           CAST(1000000 * count_v2 // n2 AS BIGINT) AS share_v2_ppm,
           CAST(abs(count_v1 * n2 - count_v2 * n1) AS BIGINT) AS tv_num
    FROM joined
    ORDER BY tv_num DESC, word ASC
    LIMIT 10
    """


@register("vocab_drift_monitor", oracle=_vocab_drift_oracle())
def q_vocab_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift audit between two snapshots: the top-10 words by
    total-variation contribution — the refresh-time monitor that
    catches a scraper change, a new spam source, or a broken filter
    before a model trains on it (v2 is derived deterministically, the
    snapshot_diff device, with a planted token so the drift is
    non-trivial). ALL drift arithmetic is integer-exact: per-word
    shares in ppm by integer division, and the ranking key is the
    cross-multiplied TV numerator |c1*N2 - c2*N1| (int64-safe: counts
    x corpus totals stay far under 2^63 at any realistic vocabulary),
    so the hash verifies every rank and value bit for bit.

    Scale shape: two flagship wordcount aggregations (vocabulary-sized
    after map-side partial agg), one full-outer vocab join, two 1-row
    total broadcasts; top-10 is a TakeOrderedAndProject, never a
    global sort."""
    from mpi_word_count_spark.tokenizer import tokenize

    docs = table(spark, "documents", sf_dir)
    v2 = docs.filter(F.col("doc_id") % 19 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 17 == 0,
            F.concat("text", F.lit(" revised drift")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    c1 = (
        tokenize(docs, col="text")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n1c"))
    )
    c2 = (
        tokenize(v2, col="text")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n2c"))
    )
    t1 = c1.agg(F.sum("n1c").alias("n1"))
    t2 = c2.agg(F.sum("n2c").alias("n2"))
    joined = (
        c1.join(c2, "word", "full")
        .select(
            "word",
            F.coalesce("n1c", F.lit(0)).alias("count_v1"),
            F.coalesce("n2c", F.lit(0)).alias("count_v2"),
        )
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
    )
    return (
        joined.select(
            "word",
            F.col("count_v1").cast("bigint").alias("count_v1"),
            F.col("count_v2").cast("bigint").alias("count_v2"),
            F.expr("1000000 * count_v1 div n1").cast("bigint").alias(
                "share_v1_ppm"
            ),
            F.expr("1000000 * count_v2 div n2").cast("bigint").alias(
                "share_v2_ppm"
            ),
            F.abs(
                F.col("count_v1") * F.col("n2") - F.col("count_v2") * F.col("n1")
            )
            .cast("bigint")
            .alias("tv_num"),
        )
        .orderBy(F.desc("tv_num"), F.asc("word"))
        .limit(10)
    )


def _temperature_mixture_oracle() -> str:
    w = "sqrt(CAST(n_docs AS DOUBLE))"
    share = sql_portable_round(f"{w} / tot_w", 6)
    return f"""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    tot AS (
        SELECT sum({w}) AS tot_w,
               CAST(sum(n_docs) AS BIGINT) AS total_docs
        FROM counts
    )
    SELECT lang, n_docs,
           CAST(1000000 * n_docs // total_docs AS BIGINT)
               AS natural_share_ppm,
           {share} AS sampled_share,
           CAST(floor(total_docs * {w} / tot_w) AS BIGINT) AS planned_docs
    FROM counts CROSS JOIN tot
    ORDER BY lang
    """


@register("temperature_mixture_plan", oracle=_temperature_mixture_oracle())
def q_temperature_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling plan (the
    mBERT/XLM-R rule): sampled share ∝ n_lang^(1/T), flattening the
    head so low-resource languages are not drowned — here T = 2, so
    the weight is sqrt(n), an IEEE-exact unary on both engines (no
    pow(x, 0.5) libm variance; general T would need a float pow whose
    last bit can differ across libm builds). Natural shares stay in
    exact integer ppm; the sampled share is floored at 6dp; planned
    doc counts floor against the same total.

    Complements mixture_plan (explicit target distribution) with the
    distribution-free temperature rule. One groupBy over the corpus
    + a 1-row broadcast of totals; output is |langs| rows."""
    docs = table(spark, "documents", sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.sqrt(F.col("n_docs").cast("double"))
    tot = counts.agg(
        F.sum(w).alias("tot_w"),
        F.sum("n_docs").cast("bigint").alias("total_docs"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr("1000000 * n_docs div total_docs")
            .cast("bigint")
            .alias("natural_share_ppm"),
            portable_round(w / F.col("tot_w"), 6).alias("sampled_share"),
            F.floor(F.col("total_docs") * w / F.col("tot_w"))
            .cast("bigint")
            .alias("planned_docs"),
        )
        .orderBy("lang")
    )


_NEYMAN_BUDGET = 1000


def _neyman_oracle() -> str:
    sd = (
        "sqrt((sumsq - sum_v * sum_v / n) / (n - 1))"
    )
    return f"""
    WITH s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               sum(value) AS sum_v,
               sum(value * value) AS sumsq
        FROM events GROUP BY 1
    ),
    w AS (
        SELECT event_type, n,
               CAST(floor(1000.0 * {sd} + 0.5) AS BIGINT) AS sd_milli
        FROM s
    ),
    t AS (SELECT sum(n * sd_milli) AS tot FROM w),
    alloc AS (
        SELECT w.event_type, w.n, w.sd_milli,
               ({_NEYMAN_BUDGET} * w.n * w.sd_milli) // t.tot AS base_alloc,
               ({_NEYMAN_BUDGET} * w.n * w.sd_milli) % t.tot AS rem
        FROM w CROSS JOIN t
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, event_type ASC) AS rr,
               {_NEYMAN_BUDGET} - sum(base_alloc) OVER () AS shortfall
        FROM alloc
    )
    SELECT event_type, n AS stratum_rows, sd_milli,
           CAST(base_alloc + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END
                AS BIGINT) AS sample_size
    FROM ranked ORDER BY event_type
    """


@register("neyman_allocation_plan", oracle=_neyman_oracle())
def q_neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (variance-optimal) stratified-sample allocation: split a
    fixed labeling/eval budget across strata proportionally to
    N_h·S_h — high-variance strata get more samples, the classical
    minimum-variance design for estimating the population mean (the
    budget-allocation complement of quota_sample_per_source's equal
    quotas). Stddevs quantize to integer milli BEFORE allocation, so
    the entire plan — integer floor allocations plus largest-remainder
    distribution of the shortfall (deterministic remainder-then-name
    ranking) — is bit-identical cross-engine and sums exactly to the
    budget. One aggregate scan; everything after is |strata|-sized."""
    from pyspark.sql.window import Window

    e = table(spark, "events", sf_dir)
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_v"),
        F.sum(F.col("value") * F.col("value")).alias("sumsq"),
    )
    sd = F.sqrt(
        (F.col("sumsq") - F.col("sum_v") * F.col("sum_v") / F.col("n"))
        / (F.col("n") - 1)
    )
    w = s.select(
        "event_type",
        "n",
        F.floor(F.lit(1000.0) * sd + F.lit(0.5)).cast("bigint").alias(
            "sd_milli"
        ),
    )
    tot = w.agg(F.sum(F.col("n") * F.col("sd_milli")).alias("tot"))
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "sd_milli",
        F.expr(f"({_NEYMAN_BUDGET} * n * sd_milli) div tot").alias(
            "base_alloc"
        ),
        ((F.lit(_NEYMAN_BUDGET) * F.col("n") * F.col("sd_milli")) % F.col("tot")).alias(
            "rem"
        ),
    )
    win_rank = Window.orderBy(F.desc("rem"), F.asc("event_type"))
    win_all = Window.partitionBy()
    ranked = alloc.select(
        "event_type",
        "n",
        "sd_milli",
        "base_alloc",
        F.row_number().over(win_rank).alias("rr"),
        (F.lit(_NEYMAN_BUDGET) - F.sum("base_alloc").over(win_all)).alias(
            "shortfall"
        ),
    )
    return ranked.select(
        "event_type",
        F.col("n").alias("stratum_rows"),
        "sd_milli",
        (
            F.col("base_alloc")
            + F.when(F.col("rr") <= F.col("shortfall"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("sample_size"),
    ).orderBy("event_type")


def _ring_points_sql(n_shards: int, vnodes: int) -> str:
    rows = ", ".join(
        f"({s}, {v})" for s in range(n_shards) for v in range(vnodes)
    )
    return f"(VALUES {rows}) AS vn(shard, v)"


def _consistent_hash_oracle() -> str:
    doc_pt = sql_hash32("CAST(doc_id AS VARCHAR)", "ring")

    def ring(n: int, name: str) -> str:
        pt = sql_hash32(
            "CAST(shard AS VARCHAR) || ':' || CAST(v AS VARCHAR)", "vnode"
        )
        return f"""
    {name} AS MATERIALIZED (
        SELECT shard, {pt} AS pt FROM {_ring_points_sql(n, 32)}
    )"""

    def assign(ring_name: str, out: str) -> str:
        # successor on the ring: smallest vnode point >= doc point,
        # wrapping to the globally smallest point
        return f"""
    {out} AS MATERIALIZED (
        SELECT d.doc_id,
               coalesce(
                   (SELECT r.shard FROM {ring_name} r
                    WHERE r.pt >= d.pt ORDER BY r.pt, r.shard LIMIT 1),
                   (SELECT r.shard FROM {ring_name} r
                    ORDER BY r.pt, r.shard LIMIT 1)
               ) AS shard
        FROM dpts d
    )"""

    return f"""
    WITH dpts AS MATERIALIZED (
        SELECT doc_id, {doc_pt} AS pt FROM documents
    ),
    {ring(16, "ring16").strip()},
    {ring(17, "ring17").strip()},
    {assign("ring16", "a16").strip()},
    {assign("ring17", "a17").strip()},
    ring_moved AS (
        SELECT count(*) AS moved FROM a16 JOIN a17 USING (doc_id)
        WHERE a16.shard <> a17.shard
    ),
    mod_moved AS (
        SELECT count(*) AS moved FROM documents
        WHERE {doc_pt} % 16 <> {doc_pt} % 17
    ),
    n AS (SELECT count(*) AS total FROM documents)
    SELECT 'consistent_ring' AS scheme,
           CAST(n.total AS BIGINT) AS n_docs,
           CAST(ring_moved.moved AS BIGINT) AS docs_moved,
           CAST(1000 * ring_moved.moved // n.total AS BIGINT) AS moved_milli
    FROM ring_moved, n
    UNION ALL
    SELECT 'mod_hash', CAST(n.total AS BIGINT),
           CAST(mod_moved.moved AS BIGINT),
           CAST(1000 * mod_moved.moved // n.total AS BIGINT)
    FROM mod_moved, n
    ORDER BY scheme
    """


@register("consistent_hash_resharding", oracle=_consistent_hash_oracle())
def q_consistent_hash_resharding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Consistent hashing vs mod-hash under RESHARDING, measured: grow
    16 shards to 17 and count documents that move. Mod-hash reshuffles
    ~16/17 of the corpus (every residue class shifts); the consistent
    ring (md5 points, 32 virtual nodes per shard, successor
    assignment) moves only the arc the new shard claims — ~1/17 —
    which at 100 TB is the difference between copying the whole
    corpus and copying 6%% of it. All ring arithmetic is the portable
    md5 hash family, so assignments and both movement counts
    hash-verify bit for bit.

    Scale shape: the ring is shards×vnodes rows (a broadcast); the
    successor lookup compiles to a min-aggregate over the tiny ring
    per doc point (never a sort of the corpus); both assignments and
    the movement counts ride one scan plus broadcast joins."""
    from mpi_word_count_spark.functions.hashing import hash32

    docs = table(spark, "documents", sf_dir)
    dpts = docs.select(
        "doc_id", hash32(F.col("doc_id").cast("string"), seed="ring").alias("pt")
    )

    def ring_df(n: int) -> DataFrame:
        rows = [(s, v) for s in range(n) for v in range(32)]
        vn = spark.createDataFrame(rows, "shard int, v int")
        return vn.select(
            "shard",
            hash32(
                F.concat_ws(":", F.col("shard"), F.col("v")), seed="vnode"
            ).alias("pt"),
        )

    def assign(ring: DataFrame, out_col: str) -> DataFrame:
        r = F.broadcast(ring.select(F.col("shard"), F.col("pt").alias("rpt")))
        # successor = min (rpt, shard) among rpt >= pt; wrap = global min
        succ = (
            dpts.join(r, F.col("rpt") >= F.col("pt"), "left")
            .groupBy("doc_id", "pt")
            .agg(
                F.min(F.struct("rpt", "shard")).alias("s")
            )
            .select("doc_id", F.col("s.shard").alias("succ"))
        )
        wrap = ring.orderBy("pt", "shard").limit(1).select(
            F.col("shard").alias("wrap_shard")
        )
        return succ.crossJoin(F.broadcast(wrap)).select(
            "doc_id",
            F.coalesce("succ", "wrap_shard").alias(out_col),
        )

    a16 = assign(ring_df(16), "s16")
    a17 = assign(ring_df(17), "s17")
    joined = a16.join(a17, "doc_id")
    ring_stats = joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("s16") != F.col("s17"), 1)).alias("docs_moved"),
    ).select(
        F.lit("consistent_ring").alias("scheme"),
        "n_docs",
        "docs_moved",
        F.expr("1000 * docs_moved div n_docs").cast("bigint").alias(
            "moved_milli"
        ),
    )
    mod_stats = dpts.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("pt") % 16 != F.col("pt") % 17, 1)).alias(
            "docs_moved"
        ),
    ).select(
        F.lit("mod_hash").alias("scheme"),
        "n_docs",
        "docs_moved",
        F.expr("1000 * docs_moved div n_docs").cast("bigint").alias(
            "moved_milli"
        ),
    )
    return ring_stats.unionByName(mod_stats).orderBy("scheme")


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, unnest(t) AS g FROM toks
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(generate_series(2, len(t)),
                                     i -> t[i - 1] || ' ' || t[i])) AS g
        FROM toks WHERE len(t) >= 2
    ),
    feat AS (
        SELECT doc_id, doc_id % {BENCH_MOD} = 0 AS is_target,
               {sql_hash32("g", "dsir")} % 4096 AS b
        FROM grams
    ),
    dbc AS (
        SELECT doc_id, is_target, b, count(*) AS cnt
        FROM feat GROUP BY 1, 2, 3
    ),
    counts AS (
        SELECT b,
               sum(CASE WHEN is_target THEN cnt ELSE 0 END) AS ct,
               sum(CASE WHEN is_target THEN 0 ELSE cnt END) AS cr
        FROM dbc GROUP BY b
    ),
    tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
    ratio AS (
        SELECT b, ln((ct + 1.0) / (nt + 4096.0))
                  - ln((cr + 1.0) / (nr + 4096.0)) AS r
        FROM counts, tot
    )
    SELECT f.doc_id, CAST(sum(f.cnt) AS BIGINT) AS n_feats,
           {sql_portable_round("sum(f.cnt * r.r)", 4)} AS log_weight
    FROM dbc f JOIN ratio r USING (b)
    WHERE NOT f.is_target
    GROUP BY f.doc_id
    """,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): every raw document's
    hashed-ngram importance log-weight against the benchmark-set
    target distribution (doc_id % BENCH_MOD = 0, the contamination
    queries' target convention). Selection is then a deterministic
    top-k/threshold over log_weight.

    See operators/curation.dsir_importance_weights for the scale
    argument: bucket-bounded model fit, broadcast log-ratio table,
    one doc_id shuffle — no corpus self-join."""
    from mpi_word_count_spark.operators.curation import dsir_importance_weights

    docs = table(spark, "documents", sf_dir)
    return dsir_importance_weights(docs, F.col("doc_id") % BENCH_MOD == 0)


DSIR_SAMPLE_K = 64


def _dsir_cte() -> str:
    """The DSIR weight pipeline as reusable CTE text (matches the
    dsir_importance_weights oracle verbatim)."""
    return f"""
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, unnest(t) AS g FROM toks
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(generate_series(2, len(t)),
                                     i -> t[i - 1] || ' ' || t[i])) AS g
        FROM toks WHERE len(t) >= 2
    ),
    feat AS (
        SELECT doc_id, doc_id % {BENCH_MOD} = 0 AS is_target,
               {sql_hash32("g", "dsir")} % 4096 AS b
        FROM grams
    ),
    dbc AS (
        SELECT doc_id, is_target, b, count(*) AS cnt
        FROM feat GROUP BY 1, 2, 3
    ),
    counts AS (
        SELECT b,
               sum(CASE WHEN is_target THEN cnt ELSE 0 END) AS ct,
               sum(CASE WHEN is_target THEN 0 ELSE cnt END) AS cr
        FROM dbc GROUP BY b
    ),
    tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
    ratio AS (
        SELECT b, ln((ct + 1.0) / (nt + 4096.0))
                  - ln((cr + 1.0) / (nr + 4096.0)) AS r
        FROM counts, tot
    ),
    weights AS (
        SELECT f.doc_id,
               {sql_portable_round("sum(f.cnt * r.r)", 4)} AS log_weight
        FROM dbc f JOIN ratio r USING (b)
        WHERE NOT f.is_target
        GROUP BY f.doc_id
    )"""


@register(
    "dsir_gumbel_sample",
    oracle=f"""
    WITH {_dsir_cte()}
    SELECT doc_id, log_weight,
           {sql_portable_round(
               "log_weight - ln(-ln((" +
               sql_hash32("CAST(doc_id AS VARCHAR)", "dsirg") +
               " + 0.5) / 4294967296.0))", 4)} AS gumbel_key
    FROM weights
    ORDER BY {sql_portable_round(
        "log_weight - ln(-ln((" +
        sql_hash32("CAST(doc_id AS VARCHAR)", "dsirg") +
        " + 0.5) / 4294967296.0))", 4)} DESC, doc_id ASC
    LIMIT {DSIR_SAMPLE_K}
    """,
)
def q_dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's actual selection rule: Gumbel-top-k resampling —
    drawing k documents WITHOUT replacement with probability ∝ w(doc)
    is exactly taking the top k by log w(doc) + Gumbel noise, and the
    noise is the deterministic md5-uniform (sample_hash_u) pushed
    through −ln(−ln(u)), so the sample is bit-reproducible across
    engines, partitionings, and retries (the paper samples once for a
    whole pretraining run — reproducibility is the requirement).

    Scale shape: the weight pipeline's bounded shuffles plus ONE
    TakeOrderedAndProject heap for the top-k — never a global sort or
    rank window."""
    from mpi_word_count_spark.operators.curation import (
        dsir_importance_weights,
        sample_hash_u,
    )

    docs = table(spark, "documents", sf_dir)
    w = dsir_importance_weights(docs, F.col("doc_id") % BENCH_MOD == 0)
    gumbel = -F.log(
        -F.log(sample_hash_u(F.col("doc_id").cast("string"), "dsirg"))
    )
    keyed = w.select(
        "doc_id",
        "log_weight",
        portable_round(F.col("log_weight") + gumbel, 4).alias("gumbel_key"),
    )
    return keyed.orderBy(F.desc("gumbel_key"), F.asc("doc_id")).limit(
        DSIR_SAMPLE_K
    )


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT sum(c) AS n_total FROM vocab),
    scores AS (
        SELECT t.doc_id, round(avg(ln(v.c / tot.n_total)), 4) AS avg_logprob
        FROM toks t JOIN vocab v USING (tok), tot
        GROUP BY t.doc_id
    ),
    tiled AS (
        SELECT s.doc_id, d.lang, s.avg_logprob,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY s.avg_logprob DESC, s.doc_id ASC)
                   AS tile
        FROM scores s JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           {sql_portable_round("avg(avg_logprob)", 4)} AS mean_logprob,
           {sql_portable_round("min(avg_logprob)", 4)} AS min_logprob,
           {sql_portable_round("max(avg_logprob)", 4)} AS max_logprob
    FROM tiled GROUP BY 1, 2
    """,
)
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail partition (Wenzek et al. 2020): per
    language, split documents into LM-score terciles — 'head' is the
    most-fluent third that CCNet keeps for pretraining, 'tail' the
    third it drops. Scorer is the corpus-unigram LM
    (operators/textanalysis.unigram_logprob, the repo's CCNet-style
    perplexity proxy); terciles are the EXACT-NTILE closed form over
    per-language bucket-offset ranks (deterministic doc_id
    tie-break). Window.partitionBy("lang") would be no safer than an
    unpartitioned window — one language at web scale is ~10⁹
    documents through ONE WindowExec partition — so the rank
    decomposes by (lang, deciscore bucket) and NTILE(3) folds from
    (rank, per-lang n) via ntile_from_rank; the oracle keeps literal
    ntile(3) OVER (PARTITION BY lang ...), so the hash match proves
    the grouped decomposition. Output is the per-(lang, bucket)
    profile: doc counts and the score range each bucket spans."""
    from mpi_word_count_spark.operators.ranking import (
        bucketed_global_rank,
        ntile_from_rank,
    )
    from mpi_word_count_spark.operators.textanalysis import unigram_logprob

    docs = table(spark, "documents", sf_dir)
    scores = unigram_logprob(docs)
    s = scores.join(docs.select("doc_id", "lang"), "doc_id")
    lang_n = s.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    ranked = bucketed_global_rank(
        s,
        -F.floor(F.col("avg_logprob") * 10),
        [F.desc("avg_logprob"), F.asc("doc_id")],
        rank_col="_rk",
        partition_cols=["lang"],
    )
    tiled = ranked.join(F.broadcast(lang_n), "lang").select(
        "lang",
        "avg_logprob",
        ntile_from_rank("_rk", "_n", 3).alias("tile"),
    )
    return tiled.groupBy(
        "lang",
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        portable_round(F.avg("avg_logprob"), 4).alias("mean_logprob"),
        portable_round(F.min("avg_logprob"), 4).alias("min_logprob"),
        portable_round(F.max("avg_logprob"), 4).alias("max_logprob"),
    )
