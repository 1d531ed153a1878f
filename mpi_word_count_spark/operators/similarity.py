"""Similarity search over embedding columns (BASELINE.json north star).

Candidate generation, one function each; scoring is shared:

  ann_bruteforce_topk  exact top-k by cosine — the correctness
                       baseline. Query side broadcasts; the big side
                       streams. O(|queries| · |corpus|) but never
                       shuffles the corpus.
  ann_lsh_topk         random-hyperplane LSH bucketing, `nprobes`
                       buckets per query (own bucket plus the
                       lowest-margin bit flips). Candidates are an
                       equi-join on the bucket id; at 100 TB the
                       corpus is bucketed once (write-time
                       partitioning) and each probe touches one
                       partition.
  ann_ivf_topk         k-means inverted lists; queries probe the
                       `nprobe` nearest lists (equi-join on cluster).
  ann_pq_topk          product-quantized codes scored by asymmetric
                       distance, exact re-rank of the best `rerank`.
  ann_ivfpq_topk       IVF list pruning and PQ codes together.

Every exact score goes through _cosine_topk (self-pairs dropped,
cosine rounded to 4, ties on neighbor id) and every PQ score through
_adc_scores, so rounding and self-pair rules cannot drift between
paths.

Hyperplanes are generated in Python from md5 (functions/hashing.py)
— deterministic and reproducible in the DuckDB oracle, which makes
the approximate paths value-hash-verifiable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import py_hash32
from mpi_word_count_spark.functions.vector import dot, norm
from mpi_word_count_spark.operators.relational import topk_per_group

NUM_PLANES = 8
EMBED_DIM = 64
TRAIN_CAP = 65536  # quantizer training sample: this many smallest-id vectors


def lsh_planes(num_planes: int = NUM_PLANES, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1)^dim.

    Component (p, d) = md5-hash32("p{p}d{d}") scaled — identical in
    Python, Spark literals, and oracle SQL literals (binary64 repr
    round-trips through all three).
    """
    return [
        [py_hash32(f"p{p}d{d}") / 2147483648.0 - 1.0 for d in range(dim)]
        for p in range(num_planes)
    ]


def _matrix_lit(rows: list[list[float]]) -> Column:
    """A k×dim float matrix as ONE array<array<double>> literal, built
    via a single parsed SQL expression. Converting the same matrix
    through F.lit costs ~0.3-0.7s of py4j value conversion PER PLAN
    BUILD (profiled: the dominant term in the bench ann_lsh number —
    ~2s/run of driver-side construction against ~0.5s of execution);
    the one-string parse is ~10ms. Values are bit-exact: repr() emits
    the shortest round-trip decimal and Spark's literal parse is
    correctly rounded, so the same binary64 comes back — the oracle
    hash matches prove it end-to-end. Like the single-literal form,
    the expression SHAPE is value-independent, so k-means iterations
    reuse generated code."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in r) + ")"
            for r in rows
        )
        + ")"
    )


_planes_lit = _matrix_lit  # all hyperplanes as one literal


def lsh_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = Σ_p (dot(v, plane_p) >= 0) << p, as a long.

    Built as one zip_with/aggregate over the array-of-planes literal
    instead of num_planes separate dot() trees. Semantics identical
    (same index-ordered left-fold dot, same sum), but the expression
    has ~num_planes× fewer nodes — profiling the bench `ann_lsh`
    showed ~2s/run of DRIVER-side plan construction (py4j expression
    building + analysis of the 16-plane tree) against ~0.5s of actual
    execution; this form cuts construction to ~0.3s. The same
    driver-cost axis matters at cluster scale: plan size also bounds
    codegen and task-serialization time."""
    weights = F.lit([1 << p for p in range(len(planes))])
    bits = F.zip_with(
        _planes_lit(planes),
        weights,
        lambda plane, w: F.when(dot(vec, plane) >= 0, w.cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def lsh_bucket_array(
    vec: Column, planes: list[list[float]], num_bands: int, planes_per_band: int
) -> Column:
    """ALL bands' buckets as ONE array<long> expression: band b's
    element equals lsh_bucket_col(vec, planes[b·ppb:(b+1)·ppb]) — the
    identical per-band zip_with/aggregate fold in the identical order —
    but the 3-level plane matrix is ONE parsed literal and the per-band
    loop is a single `transform` lambda instead of num_bands separate
    expression trees. Measured on the banding consumers (16 bands):
    plan BUILD (py4j expression construction + one literal parse +
    Catalyst analysis) drops ~num_bands×; execution and values are
    unchanged (oracle hash-verified by every banding consumer)."""
    grouped = [
        planes[b * planes_per_band : (b + 1) * planes_per_band]
        for b in range(num_bands)
    ]
    # the 3-level literal convention lives in ONE place (ADVICE r10):
    # _tensor_lit is the shared repr(float)+'D' encoder for every
    # collapsed band/codebook expression
    bands_lit = _tensor_lit(grouped)
    weights = F.lit([1 << p for p in range(planes_per_band)])
    return F.transform(
        bands_lit,
        lambda band: F.aggregate(
            F.zip_with(
                band,
                weights,
                lambda plane, w: F.when(dot(vec, plane) >= 0, w.cast("long"))
                .otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def _normed(side: str, vec_col: str) -> list[Column]:
    """The columns one side of a candidate pair selects: id, vector and
    norm, named for _cosine_topk (side "q": q_id/q_vec/q_norm; side
    "n": neighbor_id/n_vec/n_norm). Each norm is computed ONCE per row
    before the join (same doubles as inlining — the per-pair work drops
    from three array folds to one, measured ~2× on ann_bruteforce)."""
    return [
        F.col("vec_id").alias("q_id" if side == "q" else "neighbor_id"),
        F.col(vec_col).alias(f"{side}_vec"),
        norm(F.col(vec_col)).alias(f"{side}_norm"),
    ]


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The shared exact-scoring tail of a joined candidate frame
    (q_id, q_vec, q_norm, neighbor_id, n_vec, n_norm): drop self-pairs,
    score cosine rounded to 4 (the oracle-parity contract — the rank
    order is reproducible across engines), keep the k best per query,
    ties on neighbor id. Only candidate GENERATION differs between the
    callers (cross join, bucket join, cluster join, rerank join)."""
    scored = pairs.filter(F.col("neighbor_id") != F.col("q_id")).select(
        "q_id",
        "neighbor_id",
        F.round(
            dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_norm") * F.col("n_norm")),
            4,
        ).alias("cosine"),
    )
    return topk_per_group(
        scored, ["q_id"], [F.desc("cosine"), F.asc("neighbor_id")], k=k,
        rank_col="rank",
    )


def ann_bruteforce_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (self excluded), over the broadcast cross join."""
    q = queries.select(*_normed("q", vec_col))
    v = vectors.select(*_normed("n", vec_col))
    return _cosine_topk(v.crossJoin(F.broadcast(q)), k)


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobes: int = 1,
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """LSH-bucketed ANN top-k: rank only candidates in the probed
    buckets. Each query probes its own bucket plus the buckets reached
    by flipping its (nprobes−1) lowest-|margin| sign bits — the
    hyperplanes it sits closest to, i.e. the flips most likely to hide
    true neighbors (multi-probe: recall ≥ single-probe at ~nprobes× the
    candidate cost). At nprobes=1 the flip list is empty and the probe
    set is the query's own bucket.

    Recall < 1 by design; the win is that candidate generation is an
    equi-join on the bucket id instead of a cross join — the joinable
    shape that scales. Bucket skew is handled by AQE. Probe buckets are
    distinct by construction (distinct bit flips) and every corpus
    vector lives in exactly one bucket, so no candidate pair
    duplicates. Deterministic margins (md5 planes) — fully
    oracle-verifiable.
    """
    planes = lsh_planes(NUM_PLANES, dim)
    # one zip_with over the planes literal, not num_planes struct
    # trees — same plan-construction economy as lsh_bucket_col
    margins = F.zip_with(
        _planes_lit(planes),
        F.lit(list(range(len(planes)))),
        lambda plane, i: F.struct(
            F.abs(dot(F.col(vec_col), plane)).alias("m"),
            i.cast("int").alias("p"),
        ),
    )
    staged = queries.select(
        *_normed("q", vec_col),
        lsh_bucket_col(F.col(vec_col), planes).alias("_b0"),
        F.array_sort(margins).alias("_margins"),
    )
    flips = F.transform(
        F.slice(F.col("_margins"), 1, nprobes - 1),
        lambda s: F.col("_b0").bitwiseXOR(
            F.pow(F.lit(2.0), s["p"]).cast("long")
        ),
    )
    q = staged.select(
        "q_id",
        "q_vec",
        "q_norm",
        F.explode(F.concat(F.array(F.col("_b0")), flips)).alias("bucket"),
    )
    v = vectors.select(
        *_normed("n", vec_col),
        lsh_bucket_col(F.col(vec_col), planes).alias("bucket"),
    )
    return _cosine_topk(v.join(F.broadcast(q), "bucket"), k)


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 5,
    sample=None,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over an embedding column —
    trained DRIVER-SIDE on a deterministic sample, the FAISS-standard
    quantizer design: training never needs the full corpus, only a
    representative sample, while ASSIGNMENT (the per-vector nearest
    list) stays a distributed codegen expression in the callers.

    Sample = the `TRAIN_CAP` smallest-id vectors (TakeOrdered heap, no
    shuffle; swap in a hash-sample for id-correlated corpora). Every
    fixture corpus fits inside the cap, so the SQL oracles' unrolled
    full-corpus trainings see the identical vector set and the whole
    pipeline stays value-hash-verifiable. Init = k smallest ids, ties
    in assignment break on lowest cluster id (argmin), empty clusters
    keep their previous centroid — the same contract the distributed
    formulation had, now at ~zero job latency (the per-iteration
    driver loop previously cost 5-6 Spark jobs of pure scheduling/
    analysis overhead — 8.6s at sf0.1 for 2000 vectors — and
    dominated every k-means query in the bench).
    """
    if sample is None:
        sample = train_sample(vectors)
    if len(sample) == 0:
        raise ValueError("kmeans_centroids: empty vector input")
    return _lloyd(sample, k, iters)


def train_sample(vectors):
    """The deterministic quantizer-training sample: the `TRAIN_CAP`
    smallest-id vectors as a float64 ndarray (TakeOrdered heap, one
    collect). Shared by the coarse and PQ quantizers so pipelines
    that train BOTH (ann_ivfpq_topk) pay one job + one driver
    transfer, not two identical ones."""
    import numpy as np

    rows = (
        vectors.select(F.col("vec_id").alias("_id"), _as_double_list("embedding"))
        .orderBy("_id")
        .limit(TRAIN_CAP)
        .collect()
    )
    return np.array([list(r["v"]) for r in rows], dtype=np.float64)


def _lloyd(x, k: int, iters: int) -> list[list[float]]:
    """The shared driver-side Lloyd loop: init = first k rows (callers
    pass id-ordered samples), direct Σ(a−b)² distances per cluster —
    the same arithmetic shape as the SQL oracles' list_distance (the
    expanded ||x||²−2x·c+||c||² form cancels catastrophically near
    ties) — argmin ties on lowest cluster id, empty clusters keep
    their previous centroid."""
    import numpy as np

    k = min(k, len(x))
    cents = x[:k].copy()
    for _ in range(iters):
        d2 = np.stack(
            [((x - cents[c]) ** 2).sum(axis=1) for c in range(k)], axis=1
        )
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return [[float(v) for v in row] for row in cents]


def _as_double_list(vec_col: str):
    return F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")


def _centroid_dist_pairs(vec: Column, centroids: list[list[float]]) -> Column:
    """(squared-distance, cluster-id) structs against ONE k×dim array
    literal. The expression SHAPE is independent of the centroid
    VALUES (they live in the codegen references array), so Lloyd
    iterations with updated centroids reuse the same generated/JITed
    code — measured ~2× on the k-means loop vs per-centroid literals.
    Arithmetic is element-identical to the unrolled form (same zip_with
    fold order), so oracle parity is unaffected."""
    cents = _matrix_lit(centroids)
    return F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a.cast("double") - b) ** 2),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            i.alias("c"),
        ),
    )


def nearest_centroid_col(vec: Column, centroids: list[list[float]]) -> Column:
    """argmin over literal centroids — array_min on (dist, id) structs,
    pure expression, no shuffle, ids break ties deterministically."""
    return F.array_min(_centroid_dist_pairs(vec, centroids))["c"]


def probe_centroids_col(
    vec: Column, centroids: list[list[float]], nprobe: int
) -> Column:
    """The `nprobe` nearest cluster ids, as an array (for explode)."""
    return F.transform(
        F.slice(F.array_sort(_centroid_dist_pairs(vec, centroids)), 1, nprobe),
        lambda s: s["c"],
    )


def ann_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    nprobe: int = 2,
    kmeans_iters: int = 5,
) -> DataFrame:
    """IVF-flat ANN: k-means coarse quantizer, queries probe the
    `nprobe` nearest inverted lists, exact cosine rank within them.

    The scale path beyond LSH: candidate generation is an equi-join on
    cluster id, and at 100 TB the corpus is written partitioned (or
    bucketed) by cluster so a query scans nprobe/n_clusters of the
    data. Centroids are driver-side k·dim floats — broadcast-trivial.
    Not SQL-expressible (iterative k-means) → rows-only driver check;
    recall vs. ann_bruteforce_topk is asserted in tests instead.
    """
    centroids = kmeans_centroids(vectors, k=n_clusters, iters=kmeans_iters)
    v = vectors.select(
        *_normed("n", "embedding"),
        nearest_centroid_col(F.col("embedding"), centroids).alias("_cluster"),
    )
    q = queries.select(
        *_normed("q", "embedding"),
        F.explode(
            probe_centroids_col(F.col("embedding"), centroids, nprobe)
        ).alias("_cluster"),
    )
    return _cosine_topk(v.join(F.broadcast(q), "_cluster"), k)


# --- product quantization (ADC) ------------------------------------------
def pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    n_codes: int = 8,
    iters: int = 3,
    dim: int = EMBED_DIM,
    sample=None,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks (m subspaces × n_codes centroids
    × dim/m floats), trained driver-side on the same deterministic
    smallest-id sample as the coarse quantizer (see kmeans_centroids:
    the FAISS design — quantizers train on a sample; ENCODING stays a
    distributed expression). One collect total for all m subspace
    trainings; fixture corpora fit inside the cap so the unrolled SQL
    oracles train on the identical vector set. Driver holds
    m·n_codes·(dim/m) = dim·n_codes floats of codebook."""
    if dim % m != 0:
        # a silent dim//m would train/encode/score on only m*(dim//m)
        # dimensions and quietly degrade recall for the remainder
        raise ValueError(f"PQ requires dim % m == 0, got dim={dim} m={m}")
    x = train_sample(vectors) if sample is None else sample
    if len(x) == 0:
        raise ValueError("pq_codebooks: empty vector input")
    sub = dim // m
    return [
        _lloyd(x[:, s * sub : (s + 1) * sub], n_codes, iters)
        for s in range(m)
    ]


def _tensor_lit(books: list[list[list[float]]]) -> Column:
    """An m×k×sub float tensor as ONE parsed literal
    (array<array<array<double>>>) — the _matrix_lit rationale one
    level deeper, shared by the collapsed PQ expressions (the
    lsh_bucket_array pattern)."""
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
                for c in book
            )
            + ")"
            for book in books
        )
        + ")"
    )


def pq_codes_col(
    vec: Column, codebooks: list[list[list[float]]], dim: int = EMBED_DIM
) -> Column:
    """PQ encoding as a pure expression: per subspace, the index of the
    nearest codebook centroid — m small ints replace dim floats (the
    32× compression that makes a 100 TB corpus scan codes, not
    vectors).

    Optimization r10: ONE transform over a single m×k×sub codebook
    tensor literal instead of m separate nearest-centroid expression
    trees (each a py4j round-trip storm — profiled at ~0.5s of the
    ann_ivfpq plan build). The inner argmin is the IDENTICAL
    zip_with/aggregate fold in the identical order as
    nearest_centroid_col, so codes are bit-equal (oracle-verified by
    every PQ consumer)."""
    m = len(codebooks)
    sub = dim // m
    return F.transform(
        _tensor_lit(codebooks),
        lambda book, i: F.array_min(
            F.transform(
                book,
                lambda c, ci: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.slice(vec, i * sub + 1, sub),
                            c,
                            lambda a, b: (a.cast("double") - b) ** 2,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    ci.alias("c"),
                ),
            )
        )["c"],
    )


def _adc_sq_dist(
    qvec: Column, codes: Column, codebooks: list[list[list[float]]], dim: int
) -> Column:
    """Asymmetric distance: exact query slice vs the corpus vector's
    RECONSTRUCTED centroids (selected by its codes). At real scale the
    per-query ‖q_i − c_ij‖² table (m·n_codes floats) is precomputed
    once and this becomes m lookups per pair; expressed directly here,
    the values are identical."""
    m = len(codebooks)
    sub = dim // m
    # Optimization r10: one transform over the codebook tensor literal
    # instead of m chained per-subspace trees; the outer aggregate sums
    # the per-subspace partials left-to-right from 0.0 — the identical
    # addition order as the unrolled `total = total + ...` chain, so
    # distances are bit-equal (oracle-verified).
    parts = F.transform(
        _tensor_lit(codebooks),
        lambda book, i: F.aggregate(
            F.zip_with(
                F.slice(qvec, i * sub + 1, sub),
                F.element_at(
                    book, F.element_at(codes, i + 1).cast("int") + 1
                ),
                lambda a, b: (a.cast("double") - b) ** 2,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return F.aggregate(parts, F.lit(0.0), lambda acc, x: acc + x)


def _adc_scores(
    pairs: DataFrame, codebooks: list[list[list[float]]], dim: int
) -> DataFrame:
    """ADC scoring of a (q_id, q_vec, neighbor_id, codes) candidate
    frame: drop self-pairs, score each pair by asymmetric distance
    rounded to 6 dp (the oracle-parity contract). One definition so
    ann_pq_topk and ann_ivfpq_topk cannot drift on rounding or the
    self-pair rule — only candidate GENERATION (broadcast cross join
    vs inverted-list equi-join) differs between them."""
    return pairs.filter(F.col("neighbor_id") != F.col("q_id")).select(
        "q_id",
        "neighbor_id",
        F.round(
            _adc_sq_dist(F.col("q_vec"), F.col("codes"), codebooks, dim), 6
        ).alias("adc"),
    )


def _rerank_exact_topk(
    adc: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int,
) -> DataFrame:
    """Shared rerank tail of the PQ family: keep the top `rerank`
    candidates per query by ADC distance, re-score those with exact
    cosine (queries broadcast; only |queries|·rerank corpus vectors
    are ever read back at full precision), return the exact top-k with
    a dense rank column."""
    cands = topk_per_group(
        adc, ["q_id"], [F.asc("adc"), F.asc("neighbor_id")], k=rerank,
        rank_col="_rn",
    ).select("q_id", "neighbor_id")
    v = vectors.select(*_normed("n", "embedding"))
    qn = queries.select(*_normed("q", "embedding"))
    pairs = cands.join(v, "neighbor_id").join(F.broadcast(qn), "q_id")
    return _cosine_topk(pairs, k)


def ann_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 8,
    iters: int = 3,
    rerank: int = 25,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """PQ-ADC approximate top-k with exact re-ranking: corpus vectors
    compress to m codes; candidate scoring reads codes only (8 bytes/
    vector instead of 256 — at 100 TB the ADC scan touches 3% of the
    bytes an exact scan reads); the top `rerank` candidates per query
    are re-scored with exact cosine. Deterministic end to end, so the
    oracle replicates codebooks, codes, ADC ranking, and re-rank."""
    books = pq_codebooks(vectors, m, n_codes, iters, dim)
    coded = vectors.select(
        F.col("vec_id").alias("neighbor_id"),
        pq_codes_col(F.col("embedding"), books, dim).alias("codes"),
    )
    q = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    adc = _adc_scores(coded.crossJoin(F.broadcast(q)), books, dim)
    return _rerank_exact_topk(adc, vectors, queries, k, rerank)


def ann_ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    nprobe: int = 2,
    kmeans_iters: int = 5,
    m: int = 8,
    n_codes: int = 8,
    pq_iters: int = 3,
    rerank: int = 25,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """IVF-PQ: the FAISS-standard combination — the coarse quantizer
    prunes WHICH vectors are scanned (queries probe `nprobe` inverted
    lists), PQ codes shrink WHAT is read per scanned vector (m bytes
    instead of dim floats), and the top `rerank` ADC candidates
    re-rank by exact cosine.

    Both compressions multiply at 100 TB: nprobe/n_clusters of the
    corpus × m/(4·dim) of the bytes. Candidate generation is the same
    equi-join on cluster id as IVF-flat, so the corpus shuffles never
    — lists are a write-time layout (cf. ann_lsh_partitioned).
    Simplification vs FAISS: codes encode RAW vectors, not per-list
    residuals (residual codebooks would train n_clusters×m k-means
    runs and multiply driver state; the exact re-rank already bounds
    the recall cost of the coarser quantization, and determinism — the
    whole-pipeline oracle — is preserved).
    """
    # ONE training-sample collect shared by both quantizers (they use
    # the identical smallest-id sample; two TakeOrdered jobs + driver
    # transfers for the same rows was the measured waste here)
    sample = train_sample(vectors)
    centroids = kmeans_centroids(
        vectors, k=n_clusters, iters=kmeans_iters, sample=sample
    )
    books = pq_codebooks(vectors, m, n_codes, pq_iters, dim, sample=sample)
    coded = vectors.select(
        F.col("vec_id").alias("neighbor_id"),
        pq_codes_col(F.col("embedding"), books, dim).alias("codes"),
        nearest_centroid_col(F.col("embedding"), centroids).alias("_cluster"),
    )
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.explode(
            probe_centroids_col(F.col("embedding"), centroids, nprobe)
        ).alias("_cluster"),
    )
    adc = _adc_scores(coded.join(F.broadcast(q), "_cluster"), books, dim)
    return _rerank_exact_topk(adc, vectors, queries, k, rerank)


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.35,
    n_clusters: int = 8,
    kmeans_iters: int = 5,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space with deterministic k-means, then within each cluster mark a
    vector as a duplicate of the smallest-id vector whose cosine
    similarity reaches `threshold`. Returns every input id with its
    cluster, `dup_of` (smallest-id in-cluster duplicate, NULL when
    none) and `kept` — the survivor set is `kept = true`.

    Scale shape — the whole point of clustering first: pairwise
    comparison runs ONLY inside a cluster (an equi-join on cluster
    id), so the quadratic term is bounded by the largest cluster, not
    the corpus; k scales with corpus size to hold cluster sizes
    constant. Assignment is a pure codegen'd expression over k·dim
    literal centroids (no shuffle); only the cluster equi-join and the
    per-id min-aggregate shuffle. Greedy lowest-id-wins keep policy is
    deterministic and oracle-replicable (no RNG anywhere).
    """
    from mpi_word_count_spark.functions.parity import portable_round
    from mpi_word_count_spark.operators import materialize

    cents = kmeans_centroids(vectors, k=n_clusters, iters=kmeans_iters)
    # materialize the assignment: it feeds BOTH sides of the
    # within-cluster join plus the final projection — without it the
    # k-literal argmin expression re-evaluates three times per row.
    # Norms precompute per ROW so each candidate pair costs ONE array
    # fold (the dot), not three — higher-order-function lambdas are
    # interpreted per element, so fold count IS the pair-kernel cost
    # (same trick as ann_bruteforce_topk)
    from mpi_word_count_spark.operators import widen

    # widen(): the pair kernel below runs in the LEFT side's
    # partitioning (broadcast join), and a small parquet scan is 1-2
    # tasks — without this the quadratic fold work serializes on one
    # core; at real scale the input already has thousands of splits
    # and widen is a no-op
    assigned = materialize(
        widen(vectors).select(
            F.col("vec_id").alias("vec_id"),
            F.col("embedding").alias("_v"),
            norm(F.col("embedding")).alias("_n"),
            nearest_centroid_col(F.col("embedding"), cents).alias("cluster"),
        )
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    # identical doubles as cosine(a._v, b._v): same dot fold, same
    # norm product, norms just computed once per row not per pair
    cos4 = portable_round(
        dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n")), 4
    )
    dups = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .where(cos4 >= threshold)
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(F.min(F.col("b.vec_id")).alias("dup_of"))
    )
    return assigned.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster",
        "dup_of",
        F.col("dup_of").isNull().alias("kept"),
    )


MARGIN_K = 4  # neighborhood size for the margin denominator (paper's k)


def margin_alignment_pairs(
    emb: DataFrame,
    side_a,
    side_b,
    k: int = MARGIN_K,
) -> DataFrame:
    """Margin-based mutual-kNN alignment between two embedding sets
    (Artetxe & Schwenk 2019, the bitext-mining scorer): a pair (a, b)
    is emitted when a's nearest neighbor in B is b AND b's nearest in
    A is a (the paper's 'intersection' strategy), scored by the RATIO
    margin

        margin(a,b) = cos(a,b) / ((deg_k(a) + deg_k(b)) / 2)

    where deg_k is the mean cosine to the k nearest cross-set
    neighbors — dividing out hubness, the reason raw cosine
    thresholds fail at mining time. Returns (a_id, b_id, cosine,
    margin), margin portable-rounded; thresholding is the consumer's
    policy knob.

    Shape: ONE scored A×B table feeds both kNN directions (cosine is
    symmetric — the backward ranking is a second window over the same
    pairs), both top-k windows partition by their query id. The
    brute-force pairing is the EXACT baseline, same convention as
    ann_bruteforce (broadcast the smaller side); at 100 TB you swap
    the scored table for ANN candidates (ann_lsh/ann_ivf produce the
    same (q, n, cosine) shape) and the margin machinery is unchanged.
    """
    from mpi_word_count_spark.functions.parity import portable_round

    a = emb.filter(side_a).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        norm(F.col("embedding")).alias("a_norm"),
    )
    b = emb.filter(side_b).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        norm(F.col("embedding")).alias("b_norm"),
    )
    from mpi_word_count_spark.operators import materialize

    # materialized: the docstring's "ONE scored A×B table" is only
    # true with the hold — fwd and bwd exchange on DIFFERENT keys (a_id vs
    # b_id), so without it the cross-join cosine fold runs twice
    scored = materialize(
        b.crossJoin(F.broadcast(a)).select(
            "a_id",
            "b_id",
            F.round(
                dot(F.col("a_vec"), F.col("b_vec"))
                / (F.col("a_norm") * F.col("b_norm")),
                4,
            ).alias("cosine"),
        )
    )
    fwd = topk_per_group(
        scored, ["a_id"], [F.desc("cosine"), F.asc("b_id")], k, rank_col="r"
    )
    bwd = topk_per_group(
        scored, ["b_id"], [F.desc("cosine"), F.asc("a_id")], k, rank_col="r"
    )
    deg_a = fwd.groupBy("a_id").agg(F.avg("cosine").alias("deg_a"))
    deg_b = bwd.groupBy("b_id").agg(F.avg("cosine").alias("deg_b"))
    f1 = fwd.filter(F.col("r") == 1).select("a_id", "b_id", "cosine")
    b1 = bwd.filter(F.col("r") == 1).select(
        F.col("a_id").alias("_ba"), F.col("b_id").alias("_bb")
    )
    mutual = f1.join(
        b1, (f1["a_id"] == b1["_ba"]) & (f1["b_id"] == b1["_bb"])
    ).select("a_id", "b_id", "cosine")
    return (
        mutual.join(deg_a, "a_id")
        .join(deg_b, "b_id")
        .select(
            "a_id",
            "b_id",
            "cosine",
            portable_round(
                F.col("cosine")
                / ((F.col("deg_a") + F.col("deg_b")) / F.lit(2.0)),
                4,
            ).alias("margin"),
        )
    )
