"""Similarity-search queries over `embeddings` (SURVEY.md §7 M3).

Query vectors: vec_id < 10 (stable at every sf). Both the exact and
the LSH path have full oracles; the LSH oracle embeds the identical
md5-derived hyperplane literals the Spark operator uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.parity import sql_portable_round
from mpi_word_count_spark.operators.similarity import (
    ann_bruteforce_topk,
    ann_ivf_topk,
    ann_lsh_topk,
    lsh_planes,
)
from mpi_word_count_spark.registry import register
from mpi_word_count_spark.tables import table

TOP_K = 5
N_QUERIES = 10


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < N_QUERIES)


@register(
    "ann_bruteforce",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]), 4) AS cosine
        FROM embeddings q JOIN embeddings v ON q.vec_id <> v.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the 10 query vectors."""
    emb = table(spark, "embeddings", sf_dir)
    return ann_bruteforce_topk(emb, _queries_df(spark, sf_dir), k=TOP_K)


def _lsh_oracle() -> str:
    planes = lsh_planes()
    def arr(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, ({bucket_expr})::BIGINT AS bucket
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]), 4) AS cosine
        FROM bucketed q JOIN bucketed v
          ON q.bucket = v.bucket AND q.vec_id <> v.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("ann_lsh", oracle=_lsh_oracle())
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (same ranking, candidates
    restricted to the query's hyperplane-sign bucket)."""
    emb = table(spark, "embeddings", sf_dir)
    return ann_lsh_topk(emb, _queries_df(spark, sf_dir), k=TOP_K)


def _multiprobe_oracle() -> str:
    planes = lsh_planes()

    def arr(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    margin_structs = ", ".join(
        f"{{'m': abs(list_dot_product(embedding::DOUBLE[], {arr(p)})), 'p': {i}}}"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, ({bucket_expr})::BIGINT AS bucket
        FROM embeddings
    ),
    qm AS (
        SELECT vec_id, embedding, bucket,
               list_sort([{margin_structs}])[1].p AS flip_p
        FROM bucketed WHERE vec_id < {N_QUERIES}
    ),
    probes AS (
        SELECT vec_id, embedding, bucket AS probe FROM qm
        UNION ALL
        SELECT vec_id, embedding, xor(bucket, (2**flip_p)::BIGINT) FROM qm
    ),
    scored AS (
        SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]), 4) AS cosine
        FROM probes q JOIN bucketed v
          ON q.probe = v.bucket AND q.vec_id <> v.vec_id
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("ann_lsh_multiprobe", oracle=_multiprobe_oracle())
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-5: own bucket + lowest-|margin| bit flip.
    Recall ≥ single-probe ann_lsh at ~2× candidate cost."""
    emb = table(spark, "embeddings", sf_dir)
    return ann_lsh_topk(emb, _queries_df(spark, sf_dir), k=TOP_K, nprobes=2)


IVF_CLUSTERS = 8
IVF_NPROBE = 2
IVF_ITERS = 5
IVF_DIM = 64


def _kmeans_corpus_ctes() -> str:
    """The shared CTE chain: unrolled deterministic Lloyd's k-means
    (id-ordered init, IVF_ITERS assignment/mean rounds, empty clusters
    keep their previous centroid) ending in `corpus` — every vector
    with its final cluster. Composed by both the IVF probe oracle and
    the cluster-sizes oracle."""
    steps = []
    for t in range(IVF_ITERS):
        prev, cur = f"c{t}", f"c{t + 1}"
        steps.append(f"""
    a{t + 1} AS (
        SELECT vec_id, embedding, c FROM (
            SELECT e.vec_id, e.embedding, t.c,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], t.vec) ASC,
                                t.c ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN {prev} t
        ) WHERE rn = 1
    ),
    m{t + 1} AS (
        SELECT c, i, avg(embedding[i]) AS m
        FROM a{t + 1} CROSS JOIN dims
        GROUP BY c, i
    ),
    g{t + 1} AS (
        SELECT c, list(m ORDER BY i) AS vec FROM m{t + 1} GROUP BY c
    ),
    {cur} AS (
        SELECT t.c, coalesce(g.vec, t.vec) AS vec
        FROM {prev} t LEFT JOIN g{t + 1} g ON t.c = g.c
    )""")
    last = f"c{IVF_ITERS}"
    ctes = f"""c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
               embedding::DOUBLE[] AS vec
        FROM embeddings ORDER BY vec_id LIMIT {IVF_CLUSTERS}
    ),
    dims AS (SELECT unnest(range(1, {IVF_DIM + 1})) AS i),
    {",".join(steps)},
    corpus AS (
        SELECT vec_id, embedding, c AS cluster FROM (
            SELECT e.vec_id, e.embedding, t.c,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], t.vec) ASC,
                                t.c ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN {last} t
        ) WHERE rn = 1
    )"""
    return ctes


def _ivf_oracle() -> str:
    """Lloyd's k-means is deterministic here (init = the k smallest-id
    vectors, fixed iteration count, ties break on cluster id), so the
    'iterative' part unrolls into one CTE pair per iteration (see
    _kmeans_corpus_ctes). The final SELECT replicates the IVF probe:
    corpus vectors live in their nearest list, queries probe the 2
    nearest lists, exact cosine rank within them. Distance ordering
    uses list_distance (sqrt of the same sum of squares — monotonic,
    so the argmin is identical up to float summation drift, which the
    fixture geometry keeps far from any tie)."""
    last = f"c{IVF_ITERS}"
    return f"""
    WITH {_kmeans_corpus_ctes()},
    probes AS (
        SELECT vec_id, embedding, c AS cluster FROM (
            SELECT e.vec_id, e.embedding, t.c,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], t.vec) ASC,
                                t.c ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN {last} t
            WHERE e.vec_id < {N_QUERIES}
        ) WHERE rn <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]), 4) AS cosine
        FROM probes q JOIN corpus v
          ON q.cluster = v.cluster AND q.vec_id <> v.vec_id
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("ann_ivf", oracle=_ivf_oracle())
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-5: k-means inverted lists, queries
    probe the 2 nearest lists. Deterministic (id-ordered init, no RNG)
    — the oracle unrolls the same 5 Lloyd iterations as SQL CTEs.
    Recall vs ann_bruteforce is additionally asserted in
    tests/test_similarity_text.py."""
    emb = table(spark, "embeddings", sf_dir)
    return ann_ivf_topk(
        emb,
        _queries_df(spark, sf_dir),
        k=TOP_K,
        n_clusters=IVF_CLUSTERS,
        nprobe=IVF_NPROBE,
        kmeans_iters=IVF_ITERS,
    )


PQ_M = 8
PQ_K = 8
PQ_ITERS = 3
PQ_RERANK = 25
PQ_SUB = IVF_DIM // PQ_M


def _pq_subspace_parts() -> tuple[list[str], list[str], list[str], str]:
    """Shared SQL fragments for the PQ family: per-subspace unrolled
    Lloyd's trainings + encodings (`parts`), the code{s} joins and
    selected centroid columns for the reconstructed-vector CTE
    (`vcent_joins`, `vcent_cols`), and the per-subspace ADC distance
    terms (`adc_terms`). Composed by _pq_oracle (full-corpus ADC scan)
    and _ivfpq_oracle (ADC restricted to probed IVF lists)."""
    parts = []
    vcent_joins = []
    adc_terms = []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB + 1, (s + 1) * PQ_SUB
        parts.append(f"""
    e{s} AS (
        SELECT vec_id, embedding[{lo}:{hi}]::DOUBLE[] AS emb FROM embeddings
    ),
    s{s}c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS vec
        FROM e{s} ORDER BY vec_id LIMIT {PQ_K}
    )""")
        for t in range(PQ_ITERS):
            prev, cur = f"s{s}c{t}", f"s{s}c{t + 1}"
            parts.append(f"""
    s{s}a{t + 1} AS (
        SELECT vec_id, emb, c FROM (
            SELECT e.vec_id, e.emb, t.c,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.emb, t.vec) ASC, t.c ASC
                   ) AS rn
            FROM e{s} e CROSS JOIN {prev} t
        ) WHERE rn = 1
    ),
    s{s}m{t + 1} AS (
        SELECT c, i, avg(emb[i]) AS m
        FROM s{s}a{t + 1} CROSS JOIN subdims
        GROUP BY c, i
    ),
    s{s}g{t + 1} AS (
        SELECT c, list(m ORDER BY i) AS vec FROM s{s}m{t + 1} GROUP BY c
    ),
    {cur} AS (
        SELECT t.c, coalesce(g.vec, t.vec) AS vec
        FROM {prev} t LEFT JOIN s{s}g{t + 1} g ON t.c = g.c
    )""")
        last = f"s{s}c{PQ_ITERS}"
        parts.append(f"""
    code{s} AS (
        SELECT vec_id, c, vec FROM (
            SELECT e.vec_id, t.c, t.vec,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.emb, t.vec) ASC, t.c ASC
                   ) AS rn
            FROM e{s} e CROSS JOIN {last} t
        ) WHERE rn = 1
    )""")
        vcent_joins.append(f"JOIN code{s} k{s} ON k{s}.vec_id = v.vec_id")
        adc_terms.append(
            f"pow(list_distance(q.embedding[{lo}:{hi}]::DOUBLE[], w.v{s}), 2)"
        )
    vcent_cols = ", ".join(f"k{s}.vec AS v{s}" for s in range(PQ_M))
    return parts, vcent_joins, adc_terms, vcent_cols


def _pq_oracle() -> str:
    """Unrolls the per-subspace Lloyd's k-means (same deterministic
    construction as _ivf_oracle, on list slices), then replicates PQ
    encode → ADC ranking (round 6) → top-RERANK candidates → exact
    cosine re-rank. Squared distance via pow(list_distance, 2) differs
    from the direct sum of squares only in last-bit float drift, far
    inside the round-6 guard."""
    parts, vcent_joins, adc_terms, vcent_cols = _pq_subspace_parts()
    return f"""
    WITH subdims AS (SELECT unnest(range(1, {PQ_SUB + 1})) AS i),
    {",".join(parts)},
    vcent AS (
        SELECT v.vec_id, {vcent_cols}
        FROM embeddings v
        {" ".join(vcent_joins)}
    ),
    adc AS (
        SELECT q.vec_id AS q_id, w.vec_id AS neighbor_id,
               round({" + ".join(adc_terms)}, 6) AS adc
        FROM embeddings q CROSS JOIN vcent w
        WHERE q.vec_id < {N_QUERIES} AND w.vec_id <> q.vec_id
    ),
    cands AS (
        SELECT q_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY adc ASC, neighbor_id ASC
            ) AS rn FROM adc
        ) WHERE rn <= {PQ_RERANK}
    ),
    scored AS (
        SELECT c.q_id, c.neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]), 4) AS cosine
        FROM cands c
        JOIN embeddings q ON q.vec_id = c.q_id
        JOIN embeddings v ON v.vec_id = c.neighbor_id
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("ann_pq", oracle=_pq_oracle())
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC + exact re-rank): corpus vectors
    compress to 8 one-byte codes (32× smaller scan at candidate time),
    top-25 ADC candidates re-rank by exact cosine. Codebooks are
    deterministic per-subspace Lloyd's — the oracle unrolls all 8
    subspace trainings as SQL CTEs and replicates encode/ADC/re-rank,
    so even this pipeline is value-hash-verified."""
    from mpi_word_count_spark.operators.similarity import ann_pq_topk

    emb = table(spark, "embeddings", sf_dir)
    return ann_pq_topk(
        emb,
        _queries_df(spark, sf_dir),
        k=TOP_K,
        m=PQ_M,
        n_codes=PQ_K,
        iters=PQ_ITERS,
        rerank=PQ_RERANK,
        dim=IVF_DIM,
    )


def _ivfpq_oracle() -> str:
    """Composes the two unrolled trainings: the IVF corpus/probe CTEs
    (_kmeans_corpus_ctes) restrict the ADC scan to the nprobe probed
    lists, and the PQ subspace CTEs (_pq_subspace_parts) supply the
    reconstructed-centroid distances — then top-RERANK → exact cosine
    re-rank, identical to the Spark operator stage for stage."""
    parts, vcent_joins, adc_terms, vcent_cols = _pq_subspace_parts()
    last = f"c{IVF_ITERS}"
    return f"""
    WITH {_kmeans_corpus_ctes()},
    subdims AS (SELECT unnest(range(1, {PQ_SUB + 1})) AS i),
    {",".join(parts)},
    probes AS (
        SELECT vec_id, embedding, c AS cluster FROM (
            SELECT e.vec_id, e.embedding, t.c,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.embedding::DOUBLE[], t.vec) ASC,
                                t.c ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN {last} t
            WHERE e.vec_id < {N_QUERIES}
        ) WHERE rn <= {IVF_NPROBE}
    ),
    vcent AS (
        SELECT v.vec_id, co.cluster, {vcent_cols}
        FROM embeddings v
        JOIN corpus co ON co.vec_id = v.vec_id
        {" ".join(vcent_joins)}
    ),
    adc AS (
        SELECT q.vec_id AS q_id, w.vec_id AS neighbor_id,
               round({" + ".join(adc_terms)}, 6) AS adc
        FROM probes q JOIN vcent w
          ON q.cluster = w.cluster AND w.vec_id <> q.vec_id
    ),
    cands AS (
        SELECT q_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY adc ASC, neighbor_id ASC
            ) AS rn FROM adc
        ) WHERE rn <= {PQ_RERANK}
    ),
    scored AS (
        SELECT c.q_id, c.neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]), 4) AS cosine
        FROM cands c
        JOIN embeddings q ON q.vec_id = c.q_id
        JOIN embeddings v ON v.vec_id = c.neighbor_id
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("ann_ivfpq", oracle=_ivfpq_oracle())
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: coarse quantizer prunes which vectors are scanned,
    PQ codes shrink what is read per vector, exact cosine re-rank on
    the top-25 — the FAISS-standard combination, deterministic end to
    end, so the whole two-level training + probe + ADC + re-rank
    pipeline is value-hash-verified against one SQL statement."""
    from mpi_word_count_spark.operators.similarity import ann_ivfpq_topk

    emb = table(spark, "embeddings", sf_dir)
    return ann_ivfpq_topk(
        emb,
        _queries_df(spark, sf_dir),
        k=TOP_K,
        n_clusters=IVF_CLUSTERS,
        nprobe=IVF_NPROBE,
        kmeans_iters=IVF_ITERS,
        m=PQ_M,
        n_codes=PQ_K,
        pq_iters=PQ_ITERS,
        rerank=PQ_RERANK,
        dim=IVF_DIM,
    )


@register(
    "embedding_cluster_sizes",
    oracle=f"""
    WITH {_kmeans_corpus_ctes()}
    SELECT cluster, count(*) AS n_vectors
    FROM corpus GROUP BY cluster ORDER BY cluster
    """,
)
def embedding_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space clustering audit: the IVF coarse quantizer's
    k-means (same deterministic construction, same constants) as a
    standalone operator — cluster populations are what you inspect
    before using clusters for topic bucketing or mixture decisions.
    Assignment is a pure codegen expression over the k·dim literal
    centroids; the only shuffle is the |clusters|-row count agg."""
    from mpi_word_count_spark.operators.similarity import (
        kmeans_centroids,
        nearest_centroid_col,
    )

    emb = table(spark, "embeddings", sf_dir)
    cents = kmeans_centroids(emb, k=IVF_CLUSTERS, iters=IVF_ITERS)
    return (
        emb.select(
            nearest_centroid_col(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                cents,
            ).alias("cluster")
        )
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cluster")
    )


SEM_DEDUP_THRESHOLD = 0.35


def _semantic_dedup_oracle() -> str:
    from mpi_word_count_spark.functions.parity import sql_portable_round
    from mpi_word_count_spark.functions.vector import sql_cosine

    cos4 = sql_portable_round(sql_cosine("a.embedding", "b.embedding"), 4)
    return f"""
    WITH {_kmeans_corpus_ctes()},
    dups AS (
        SELECT a.vec_id AS vec_id, min(b.vec_id) AS dup_of
        FROM corpus a JOIN corpus b
          ON a.cluster = b.cluster AND b.vec_id < a.vec_id
        WHERE {cos4} >= {SEM_DEDUP_THRESHOLD}
        GROUP BY a.vec_id
    )
    SELECT c.vec_id, c.cluster, d.dup_of, (d.dup_of IS NULL) AS kept
    FROM corpus c LEFT JOIN dups d ON c.vec_id = d.vec_id
    """


@register("semantic_dedup", oracle=_semantic_dedup_oracle())
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means clusters bound the
    pairwise cosine check to within-cluster equi-join candidates;
    greedy lowest-id-wins survivor set. Same deterministic quantizer
    (and oracle CTE chain) as ann_ivf/embedding_cluster_sizes."""
    from mpi_word_count_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        table(spark, "embeddings", sf_dir),
        threshold=SEM_DEDUP_THRESHOLD,
        n_clusters=IVF_CLUSTERS,
        kmeans_iters=IVF_ITERS,
    )


LSH_PART_PLANES = 3  # 8 partition directories


def _lsh_partitioned_oracle() -> str:
    from mpi_word_count_spark.operators.similarity import lsh_planes as _planes

    planes = _planes(LSH_PART_PLANES)

    def arr(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, ({bucket_expr})::BIGINT AS bucket
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS q_id, v.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]), 4) AS cosine
        FROM bucketed q JOIN bucketed v
          ON q.bucket = v.bucket AND q.vec_id <> v.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("ann_lsh_partitioned", oracle=_lsh_partitioned_oracle())
def ann_lsh_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-time ANN layout SCALE.md promises: the corpus is
    written hive-partitioned BY LSH BUCKET, and query-time candidate
    selection rides dynamic partition pruning — the broadcast query
    side's buckets prune corpus directories at runtime, so each query
    reads only its bucket's files instead of the corpus. Same ranking
    semantics as ann_lsh (3 planes → 8 partitions here); the parquet
    roundtrip is lossless so the oracle is the in-memory bucket join.
    """
    import os
    import tempfile

    from mpi_word_count_spark.functions.vector import dot, norm
    from mpi_word_count_spark.operators.relational import topk_per_group
    from mpi_word_count_spark.operators.similarity import (
        lsh_bucket_col,
        lsh_planes,
    )

    planes = lsh_planes(LSH_PART_PLANES)
    emb = table(spark, "embeddings", sf_dir)
    d = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_scratch",
        os.path.basename(sf_dir.rstrip("/")),
    )
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "emb_by_bucket.parquet")
    emb.select(
        "vec_id",
        "embedding",
        lsh_bucket_col(F.col("embedding"), planes).alias("bucket"),
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)

    corpus = spark.read.parquet(path).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_vec"),
        norm(F.col("embedding")).alias("n_norm"),
        F.col("bucket").cast("long").alias("bucket"),
    )
    q = table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < N_QUERIES)
    q = q.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
        lsh_bucket_col(F.col("embedding"), planes).alias("bucket"),
    )
    scored = (
        corpus.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_norm") * F.col("n_norm")),
                4,
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored, ["q_id"], [F.desc("cosine"), F.asc("neighbor_id")], k=TOP_K,
        rank_col="rank",
    )


def _ann_recall_oracle() -> str:
    # full oracle statements (each carries its own WITH) nest as
    # parenthesized subqueries — the composition stays one SQL
    # string. Read the registered texts straight from the registry
    # dict (both entries registered earlier in THIS module; calling
    # oracle_sql() here would recurse into _load_all mid-import).
    from mpi_word_count_spark import registry

    bf_sql = registry._REGISTRY["ann_bruteforce"][1]
    lsh_sql = registry._REGISTRY["ann_lsh"][1]
    return f"""
    WITH bf AS (SELECT * FROM ({bf_sql}) t),
         ap AS (SELECT * FROM ({lsh_sql}) t)
    SELECT bf.q_id,
           CAST(count(ap.neighbor_id) AS BIGINT) AS n_overlap,
           CAST((1000 * count(ap.neighbor_id)) // {TOP_K} AS BIGINT)
               AS recall_milli
    FROM bf LEFT JOIN ap
      ON bf.q_id = ap.q_id AND bf.neighbor_id = ap.neighbor_id
    GROUP BY bf.q_id
    """


@register("ann_recall_audit", oracle=_ann_recall_oracle())
def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH index against the exact top-5, per query
    vector, in integer milli-units — the production ANN health check
    (run it before trusting bucketed retrieval on a new corpus; the
    multi-probe variant exists exactly for the queries this table
    flags). Composes the two REGISTERED pipelines, so the audit
    measures precisely what the engine serves. Measured at sf0.1:
    recall@5 is 0-400 milli across the 10 queries — 8 sign bits over
    64 dims shatter near neighbors across buckets, the quantified
    case for ann_lsh_multiprobe (2 probes) and ann_ivf (nprobe=2),
    whose candidate sets recover most of the loss.
    """
    bf = ann_bruteforce(spark, sf_dir).select("q_id", "neighbor_id")
    ap = ann_lsh(spark, sf_dir).select(
        F.col("q_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    joined = bf.join(
        ap,
        (F.col("q_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
        "left",
    )
    return joined.groupBy("q_id").agg(
        F.count("a_nid").cast("bigint").alias("n_overlap"),
        F.expr(f"(1000 * count(a_nid)) div {TOP_K}")
        .cast("bigint")
        .alias("recall_milli"),
    )


def _ann_recall_ladder_oracle() -> str:
    from mpi_word_count_spark import registry

    bf_sql = registry._REGISTRY["ann_bruteforce"][1]
    methods = {
        "lsh": registry._REGISTRY["ann_lsh"][1],
        "lsh_multiprobe": registry._REGISTRY["ann_lsh_multiprobe"][1],
        "ivf": registry._REGISTRY["ann_ivf"][1],
    }
    selects = "\n    UNION ALL\n".join(
        f"""    SELECT '{name}' AS method,
           CAST((1000 * count(ap.neighbor_id))
                // ({N_QUERIES} * {TOP_K}) AS BIGINT) AS recall_milli,
           CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits
    FROM bf LEFT JOIN (SELECT * FROM ({sql}) t) ap
      ON bf.q_id = ap.q_id AND bf.neighbor_id = ap.neighbor_id"""
        for name, sql in methods.items()
    )
    return f"""
    WITH bf AS (SELECT * FROM ({bf_sql}) t)
{selects}
    """


@register("ann_recall_ladder", oracle=_ann_recall_ladder_oracle())
def q_ann_recall_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN recall ladder: aggregate recall@5 (integer milli) of
    each served index variant — single-probe LSH, multi-probe LSH,
    IVF(nprobe=2) — against the exact top-5, in ONE three-row
    artifact. The accuracy/cost trade the per-query audit
    (ann_recall_audit) breaks down is summarized here; the oracle
    composes all four pipelines' full SQL (including the unrolled
    k-means training) into one statement.
    """
    bf = ann_bruteforce(spark, sf_dir).select("q_id", "neighbor_id")
    methods = {
        "lsh": ann_lsh,
        "lsh_multiprobe": ann_lsh_multiprobe,
        "ivf": ann_ivf,
    }
    out = None
    for name, fn in methods.items():
        ap = fn(spark, sf_dir).select(
            F.col("q_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
        )
        agg = (
            bf.join(
                ap,
                (F.col("q_id") == F.col("a_qid"))
                & (F.col("neighbor_id") == F.col("a_nid")),
                "left",
            )
            .agg(
                F.lit(name).alias("method"),
                F.expr(f"(1000 * count(a_nid)) div ({N_QUERIES} * {TOP_K})")
                .cast("bigint")
                .alias("recall_milli"),
                F.count("a_nid").cast("bigint").alias("n_hits"),
            )
            .select("method", "recall_milli", "n_hits")
        )
        out = agg if out is None else out.unionByName(agg)
    return out


@register(
    "ann_filtered",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS q_id, q.label, v.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]), 4) AS cosine
        FROM embeddings q
        JOIN embeddings v ON q.label = v.label AND q.vec_id <> v.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT q_id, label, neighbor_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the production ANN shape ('nearest
    neighbors matching a metadata predicate', here: same label as the
    query): the predicate is not a post-filter over an unfiltered
    top-k (which silently returns < k or wrong neighbors) but the
    JOIN KEY itself, so only predicate-satisfying candidates are ever
    scored. At scale the corpus is partitioned by the filter column
    (the ann_lsh_partitioned layout) and the label equi-join prunes
    to matching partitions — the filter costs a partition lookup,
    not a scan. Exact within the filtered set; self excluded; ties
    break on id."""
    from mpi_word_count_spark.operators.similarity import dot, norm
    from mpi_word_count_spark.operators.relational import topk_per_group

    emb = table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("n_vec"),
        norm(F.col("embedding")).alias("n_norm"),
    )
    scored = (
        v.join(
            F.broadcast(q),
            (F.col("n_label") == F.col("label"))
            & (F.col("neighbor_id") != F.col("q_id")),
        )
        .select(
            "q_id",
            "label",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_norm") * F.col("n_norm")),
                4,
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored,
        ["q_id", "label"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        k=TOP_K,
        rank_col="rank",
    )


MARGIN_LABEL_A = 0
MARGIN_LABEL_B = 1


@register(
    "margin_knn_alignment",
    oracle=f"""
    WITH a AS (
        SELECT vec_id, embedding FROM embeddings WHERE label = {MARGIN_LABEL_A}
    ),
    b AS (
        SELECT vec_id, embedding FROM embeddings WHERE label = {MARGIN_LABEL_B}
    ),
    scored AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 4) AS c
        FROM a, b
    ),
    fr AS (
        SELECT *, row_number() OVER (
            PARTITION BY a_id ORDER BY c DESC, b_id ASC) AS r
        FROM scored
    ),
    br AS (
        SELECT *, row_number() OVER (
            PARTITION BY b_id ORDER BY c DESC, a_id ASC) AS r
        FROM scored
    ),
    da AS (SELECT a_id, avg(c) AS d FROM fr WHERE r <= 4 GROUP BY a_id),
    db AS (SELECT b_id, avg(c) AS d FROM br WHERE r <= 4 GROUP BY b_id),
    f1 AS (SELECT a_id, b_id, c FROM fr WHERE r = 1),
    b1 AS (SELECT a_id, b_id FROM br WHERE r = 1),
    mutual AS (
        SELECT f1.a_id, f1.b_id, f1.c
        FROM f1 JOIN b1 ON f1.a_id = b1.a_id AND f1.b_id = b1.b_id
    )
    SELECT m.a_id, m.b_id, m.c AS cosine,
           {sql_portable_round("m.c / ((da.d + db.d) / 2.0)", 4)} AS margin
    FROM mutual m
    JOIN da ON m.a_id = da.a_id
    JOIN db ON m.b_id = db.b_id
    """,
)
def margin_knn_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext-style mutual margin-kNN alignment between the label-0
    and label-1 embedding sets (Artetxe & Schwenk 2019): mutual
    nearest cross-set neighbors scored by the hubness-corrected ratio
    margin. See operators/similarity.margin_alignment_pairs."""
    from mpi_word_count_spark.operators.similarity import (
        margin_alignment_pairs,
    )

    emb = table(spark, "embeddings", sf_dir)
    return margin_alignment_pairs(
        emb,
        F.col("label") == MARGIN_LABEL_A,
        F.col("label") == MARGIN_LABEL_B,
    )


# --- retrieval evaluation (MRR / MAP / nDCG) ---------------------------------

EVAL_K = 10

# Integer-surrogate gain tables, shared VERBATIM by both engines so no
# transcendental is evaluated at query time and no float summation
# order exists: DCG gains are 1/log2(rank+1) in micro-units
# (quantization ~1e-6, invisible at the 4-decimal presentation),
# reciprocal ranks are 2520/rank (2520 = lcm(1..10), exact integers).
_DCG_MICRO = (1000000, 630930, 500000, 430677, 386853,
              356207, 333333, 315465, 301030, 289065)
_IDCG_MICRO = (1000000, 1630930, 2130930, 2561607, 2948460,
               3304667, 3638000, 3953465, 4254495, 4543560)
_RR_2520 = (2520, 1260, 840, 630, 504, 420, 360, 315, 280, 252)

_GAIN_CASE = "CASE rank " + " ".join(
    f"WHEN {r + 1} THEN {g}" for r, g in enumerate(_DCG_MICRO)
) + " END"
_RR_CASE = "CASE first_rank " + " ".join(
    f"WHEN {r + 1} THEN {g}" for r, g in enumerate(_RR_2520)
) + " END"
_AP_UNIT_CASE = "CASE rank " + " ".join(
    f"WHEN {r + 1} THEN {g}" for r, g in enumerate(_RR_2520)
) + " END"
_IDCG_CASE = "CASE least(n_rel, 10) " + " ".join(
    f"WHEN {m + 1} THEN {v}" for m, v in enumerate(_IDCG_MICRO)
) + " END"

# final per-query metric formulas over columns
# (q_id, n_rel, hits, dcg_micro, ap_scaled, first_rank) — shared text
_EVAL_FINAL = f"""
    SELECT q_id,
           CAST(n_rel AS BIGINT) AS n_rel,
           CAST(hits AS BIGINT) AS hits,
           (hits / 10.0) AS precision_at_10,
           (CASE WHEN n_rel = 0 THEN 0.0
                 ELSE {sql_portable_round(
                     'CAST(hits AS DOUBLE) / CAST(n_rel AS DOUBLE)', 4)}
            END) AS recall_at_10,
           {sql_portable_round(
               f'coalesce({_RR_CASE}, 0) / 2520.0', 4)} AS mrr_at_10,
           (CASE WHEN n_rel = 0 THEN 0.0
                 ELSE {sql_portable_round(
                     'CAST(ap_scaled AS DOUBLE)'
                     ' / (2520.0 * least(n_rel, 10))', 4)}
            END) AS ap_at_10,
           (CASE WHEN n_rel = 0 THEN 0.0
                 ELSE {sql_portable_round(
                     f'CAST(dcg_micro AS DOUBLE)'
                     f' / CAST({_IDCG_CASE} AS DOUBLE)', 4)}
            END) AS ndcg_at_10
"""

_EVAL_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding, label AS q_label
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id, embedding, label
        FROM embeddings WHERE vec_id >= {N_QUERIES}
    ),
    scored AS (
        SELECT q.q_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(c.embedding::DOUBLE[],
                                            q.embedding::DOUBLE[]), 4)
                   AS cosine,
               CASE WHEN c.label = q.q_label THEN 1 ELSE 0 END AS rel
        FROM c, q
    ),
    top AS (
        SELECT * FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS INT) AS rank FROM scored
        ) WHERE rank <= {EVAL_K}
    ),
    cum AS (
        SELECT *, sum(rel) OVER (
            PARTITION BY q_id ORDER BY rank
        ) AS cum_rel FROM top
    ),
    nrel AS (
        SELECT q.q_id, count(c.vec_id) AS n_rel
        FROM q LEFT JOIN c ON c.label = q.q_label
        GROUP BY 1
    ),
    perq AS (
        SELECT q_id,
               CAST(sum(rel) AS BIGINT) AS hits,
               CAST(sum(rel * ({_GAIN_CASE})) AS BIGINT) AS dcg_micro,
               CAST(sum(rel * cum_rel * ({_AP_UNIT_CASE})) AS BIGINT)
                   AS ap_scaled,
               min(CASE WHEN rel = 1 THEN rank END) AS first_rank
        FROM cum GROUP BY 1
    )
    {_EVAL_FINAL}
    FROM perq JOIN nrel USING (q_id)
"""


@register("retrieval_eval_metrics", oracle=_EVAL_ORACLE)
def q_retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the brute-force cosine ranker:
    per query (vec_id < 10, candidates = the rest of the corpus,
    relevance = label match), precision@10, recall@10, MRR, AP@10 and
    nDCG@10 — the metric suite every embedding/retrieval deployment
    reports. All rank-dependent weights are shared integer literal
    tables (micro-quantized 1/log2(r+1) gains; lcm(1..10)-scaled
    reciprocal ranks), so the metric arithmetic is exact integer sums
    with two final divisions — no transcendental evaluation, no float
    summation-order drift, on either engine.

    100 TB shape: the ranking reuses ann_bruteforce_topk (broadcast
    queries, per-task heaps — the corpus never self-joins); n_rel
    comes from ONE label histogram joined to the broadcast query
    labels; every metric then lives on the K×|queries| top table —
    model-sized arithmetic after one corpus pass."""
    from pyspark.sql import Window

    emb = table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    c = emb.filter(F.col("vec_id") >= N_QUERIES)
    qlab = q.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )

    topk = ann_bruteforce_topk(c, q, k=EVAL_K)
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    top = (
        topk.join(nlab, "neighbor_id")
        .join(F.broadcast(qlab), "q_id")
        .select(
            "q_id",
            "rank",
            F.when(F.col("n_label") == F.col("q_label"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    cum = top.withColumn(
        "cum_rel",
        F.sum("rel").over(Window.partitionBy("q_id").orderBy("rank")),
    )
    perq = cum.groupBy("q_id").agg(
        F.sum("rel").cast("bigint").alias("hits"),
        F.sum(F.col("rel") * F.expr(_GAIN_CASE)).cast("bigint").alias("dcg_micro"),
        F.sum(F.col("rel") * F.col("cum_rel") * F.expr(_AP_UNIT_CASE))
        .cast("bigint")
        .alias("ap_scaled"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rank"),
    )
    lab_hist = c.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))
    nrel = qlab.join(
        F.broadcast(lab_hist), qlab.q_label == lab_hist.label, "left"
    ).select("q_id", F.coalesce(F.col("cnt"), F.lit(0)).alias("n_rel"))
    joined = perq.join(nrel, "q_id")
    exprs = _EVAL_FINAL.strip()
    if not exprs.startswith("SELECT "):  # pragma: no cover
        raise RuntimeError("_EVAL_FINAL must start with SELECT")
    from mpi_word_count_spark.queries.stats_queries import _split_select

    out = joined.selectExpr(*_split_select(exprs[len("SELECT ") :]))
    # Spark parses the decimal round-scale literals as DECIMAL; present
    # every metric as DOUBLE like the oracle (value-preserving: each is
    # an exact small-denominator rational).
    metric_cols = [
        "precision_at_10", "recall_at_10", "mrr_at_10", "ap_at_10",
        "ndcg_at_10",
    ]
    return out.select(
        "q_id", "n_rel", "hits",
        *[F.col(m).cast("double").alias(m) for m in metric_cols],
    )
