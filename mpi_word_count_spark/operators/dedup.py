"""Deduplication operators for LLM-training-data pipelines.

Five flavors (BASELINE.json north star), all designed shuffle-lean:

  exact_dedup          hash-groupBy on md5(text) — one shuffle on a
                       16-byte key regardless of document size
  ngram_jaccard_pairs  exact near-dup via inverted shingle index —
                       the join fans out only on SHARED shingles
  minhash_lsh_pairs    MinHash signatures + banded LSH — candidate
                       generation cost is O(docs · bands), verification
                       only on bucket collisions (the 100 TB path)
  simhash              64-bit-style (60-bit) SimHash fingerprints +
                       hamming-distance pairing
  embedding_dup_pairs_banded
                       cosine near-dup over embedding vectors (banded
                       hyperplane LSH)

Every hash is md5-derived (functions/hashing.py) so the DuckDB oracle
reproduces the exact same candidate sets and signatures — the
approximate pipelines are value-hash-verifiable end to end.

Scale notes: at 100 TB the all-pairs verification stays tractable
because it only runs on LSH-candidate pairs. The shingle inverted
index has no stop-shingle guard: its join fan-out grows with each
shingle's document frequency.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import hash32, hash60
from mpi_word_count_spark.operators.similarity import EMBED_DIM
from mpi_word_count_spark.tokenizer import split_words

# MinHash/LSH default geometry: 16 hash functions, 8 bands × 2 rows.
# S-curve threshold (1/b)^(1/r) ≈ 0.35 — catches jaccard ≥ 0.5 pairs
# with high probability while keeping bucket fan-out tiny.
NUM_HASHES = 16
NUM_BANDS = 8
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS


def tokens_col(col: Column | str) -> Column:
    """Ordered, lowercased token array — the array-valued twin of
    tokenizer.tokenize for per-document operators."""
    c = F.col(col) if isinstance(col, str) else col
    return split_words(F.lower(c))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a BOUND token-array column.

    Callers must materialize the token array in its own projection
    first (`.select(..., tokens_col(text).alias("t"))`): Spark does
    not CSE the tokenize expression through higher-order-function
    lambdas, so building shingles directly over tokens_col(text)
    re-tokenizes the document per element access — O(n²) (measured
    11s → 0.9s at sf0.1 for the fix).
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    guarded = F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(guarded)


def doc_shingles(
    df: DataFrame,
    n: int = 3,
    extra_cols: dict[str, Column] | None = None,
) -> DataFrame:
    """(id, shingle) exploded distinct-shingle table — the inverted
    index input. One narrow two-phase pass (tokenize, then shingle),
    no shuffle. `extra_cols` are per-document expressions over `df`'s
    columns that ride through the explode (e.g. a length band key) —
    they repeat per shingle row, so keep them to a few bytes."""
    from mpi_word_count_spark.operators import widen

    extras = extra_cols or {}
    toks = widen(df).select(
        F.col("doc_id").alias("doc_id"),
        *[c.alias(k) for k, c in extras.items()],
        tokens_col("text").alias("_toks"),
    )
    return toks.select(
        "doc_id",
        *extras.keys(),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    )


def passage_windows(
    df: DataFrame,
    width: int = 20,
    stride: int = 1,
    sample_mod: int = 1,
    with_pos: bool = False,
) -> DataFrame:
    """(doc_id[, pos], passage_hash) — md5 of every `width`-token window at
    `stride` token steps, the substring-dedup primitive (duplicated
    training-data passages are detected as windows shared across
    documents, the hash-window formulation of Lee et al.'s
    suffix-array substring dedup).

    Narrow tokenize → slice → md5 → explode, no shuffle here; the
    shuffle happens at the caller's groupBy over 16-byte hashes whose
    volume is tokens/stride × 32 B regardless of document size.

    Two thinning knobs with DIFFERENT guarantees (contract locked in
    tests/test_dedup.py::test_passage_windows_stride_contract):
    - `stride` > 1 cuts volume linearly but is POSITIONAL: two copies
      of a region share a window only when their offsets agree mod
      stride — misaligned copies are invisible however long the
      region. Use it only for within-corpus stats, not cross-doc
      detection.
    - `sample_mod` = p keeps windows whose hash ≡ 0 (mod p) — a
      CONTENT-DEFINED 1/p sample (the CDC/winnowing idea): selection
      depends on the window text alone, so every copy of a region
      keeps the SAME windows regardless of alignment, and a shared
      region is detected iff it contains ≥ 1 selected window
      (P ≈ 1 − (1 − 1/p)^(L−width+1)). This is the knob that scales
      cross-document passage dedup.

    Tokens materialize in their own projection before the
    higher-order transform — see shingles_from_tokens on why (no CSE
    through lambdas).
    """
    from mpi_word_count_spark.operators import widen

    toks = widen(df).select(
        F.col("doc_id").alias("doc_id"), tokens_col("text").alias("_toks")
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - width, F.lit(stride)),
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.array_join(F.slice("_toks", i + 1, width), " ")).alias(
                "passage_hash"
            ),
        ),
    )
    guarded = F.when(F.size("_toks") >= width, wins).otherwise(
        F.array().cast("array<struct<pos:int,passage_hash:string>>")
    )
    out = toks.select("doc_id", F.explode(guarded).alias("_w")).select(
        "doc_id", "_w.pos", "_w.passage_hash"
    )
    if not with_pos:
        out = out.drop("pos")
    if sample_mod > 1:
        # content-defined thinning: first 8 hex chars as an unsigned
        # 32-bit value, kept when ≡ 0 (mod p) — engine-portable
        out = out.filter(
            F.conv(F.substring("passage_hash", 1, 8), 16, 10).cast("bigint")
            % sample_mod
            == 0
        )
    return out


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    minimum id as canonical plus the duplicate count.

    groupBy(md5) shuffles 16-byte keys, never documents — at 100 TB
    the exchange is ~32 bytes/doc independent of document size.
    """
    return (
        df.select(
            F.col("doc_id").alias("doc_id"), F.md5(F.col("text")).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shared_shingle_pairs(sh: DataFrame, pair_filter=None) -> DataFrame:
    """(d1 < d2, inter) for every doc pair sharing ≥1 indexed shingle:
    the inverted-index self-join. Fans out only on SHARED shingles —
    cost tracks similarity structure, never |docs|².

    `pair_filter(a, b) -> Column` (optional) is AND-ed into the join
    condition over the two aliased index sides — the hook for pushing
    a provably-lossless pair predicate (e.g. edit_distance's length
    band) INTO the candidate join, bounding fan-out before the
    count aggregation ever sees the pair. The filter sees one row per
    shared shingle of a pair and its inputs are per-document columns,
    so a pair is kept or dropped WHOLE: `inter` counts are unchanged
    for every surviving pair."""
    a = sh.alias("a")
    b = sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    if pair_filter is not None:
        cond = cond & pair_filter(a, b)
    return (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def _jaccard_from_inter(
    inter: DataFrame,
    sizes: DataFrame,
    threshold: float,
    left: str,
    right: str,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Shared tail of every exact-Jaccard verification: join per-doc
    shingle counts onto a pair frame carrying the intersection count
    `inter`, compute |A∩B| / (|A|+|B|−|A∩B|) rounded to 4 dp (the
    cross-engine determinism contract), and keep pairs ≥ threshold.
    One definition so a rounding/threshold change cannot diverge
    between ngram_jaccard_pairs, minhash_lsh_pairs and
    incremental_minhash_dups (the round-6 triplication hazard)."""
    za, zb = sizes.alias("za"), sizes.alias("zb")
    return (
        inter.join(za, F.col(left) == F.col("za.doc_id"))
        .join(zb, F.col(right) == F.col("zb.doc_id"))
        .select(
            left,
            right,
            *extra,
            F.round(
                F.col("inter")
                / (F.col("za.n_shingles") + F.col("zb.n_shingles") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _verify_candidates_jaccard(
    df: DataFrame,
    candidates: DataFrame,
    sizes: DataFrame,
    threshold: float,
    left: str = "d1",
    right: str = "d2",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Exact-Jaccard verification of an LSH candidate-pair frame:
    re-tokenize ONLY candidate docs (broadcast semi join on the
    candidate ids — LSH keeps candidates sparse by design, so the
    full-corpus tokenizations a naive plan pays become |candidates|
    docs), count shared shingles per pair, then apply the shared
    size-join + threshold tail. Returns (left, right, *extra, jaccard)
    for pairs with exact Jaccard ≥ threshold.

    CONTRACT (ADVICE r10): `candidates` must be DISTINCT per
    (left, right, *extra) — this emits one output row per candidate
    row (the pre-r10 groupBy form collapsed duplicates; the
    array_intersect form does not). Both callers .distinct() their
    candidate frames before calling.

    Scale trade-off (ADVICE r10): each candidate pair carries both
    documents' FULL distinct-shingle arrays through the two joins —
    O(doc shingles) bytes per pair vs the old form's O(intersection)
    exploded rows — so a hub document in many candidate pairs
    replicates its whole set per pair. Acceptable because LSH keeps
    candidates sparse by design (and measured faster at sf0.1); if a
    skewed corpus ever regresses here, this is the term to look at."""
    from mpi_word_count_spark.operators import widen

    # no distinct(): duplicate build keys do not change a semi join
    cand_ids = candidates.select(F.col(left).alias("doc_id")).union(
        candidates.select(F.col(right).alias("doc_id"))
    )
    # probe=df: the semi join preserves df's partitioning, and letting
    # widen() plan the candidates subtree cost ~2s of driver time per
    # plan build (the dedup_clusters drift, VERDICT r8 item 2)
    pruned = df.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    # Optimization r10 (guide §2.3, OPTIMIZATION_r10.md): intersection
    # counts come from size(array_intersect(set1, set2)) over per-doc
    # DISTINCT shingle ARRAYS (a narrow projection — no explode), not
    # from the exploded (pair × shingle) equi-join + groupBy the
    # before-form used. Counts are identical: shingle sets are distinct
    # per document (shingles_from_tokens applies array_distinct), so
    # the join's per-pair row count IS the set-intersection size; pairs
    # whose intersection is empty get inter = 0 here and were dropped
    # by the inner join before — both forms kill them at the threshold
    # filter. Stage-profiled at sf0.1: the verification tail fell from
    # 2.2-3.1 s to ~0.9 s of the minhash pipeline.
    toks = widen(pruned, probe=df).select(
        F.col("doc_id").alias("doc_id"), tokens_col("text").alias("_toks")
    )
    sets = toks.select("doc_id", shingles_from_tokens(F.col("_toks")).alias("_set"))
    sa_, sb_ = sets.alias("sa"), sets.alias("sb")
    inter = (
        candidates.join(sa_, F.col(left) == F.col("sa.doc_id"))
        .join(sb_, F.col(right) == F.col("sb.doc_id"))
        .select(
            left,
            right,
            *extra,
            F.size(
                F.array_intersect(F.col("sa._set"), F.col("sb._set"))
            ).alias("inter"),
        )
    )
    return _jaccard_from_inter(inter, sizes, threshold, left, right, extra)


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (d1 < d2, jaccard ≥
    threshold), via inverted-index self-join:

      shingles → (shingle → docs) join → shared counts → |A∩B| /
      (|A|+|B|-|A∩B|)

    The self-join shuffles on the shingle key; only documents sharing
    a shingle ever meet, so cost tracks true similarity structure
    rather than |docs|².
    """
    sh = doc_shingles(df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = _shared_shingle_pairs(sh)
    return _jaccard_from_inter(shared, sizes, threshold, "d1", "d2")


def minhash_signatures(df: DataFrame) -> DataFrame:
    """MinHash signature per document: h0..h{k-1} columns.

    Computed as k simultaneous MIN aggregates over the exploded
    shingle table — ONE shuffle on doc_id, no row explosion by k
    (the naive seed-explode plan multiplies the shuffle by k).
    Documents with no shingles are dropped (no signature).

    The k permutations are a universal-hash family over ONE md5 base
    hash per shingle — h_i = (a_i·x + b_i) mod (2^61−1) — instead of
    k independent md5s: same cross-engine determinism, k× less
    hashing on the corpus-sized shingle table (the signature stage's
    measured hot spot).
    """
    from mpi_word_count_spark.functions.hashing import MINHASH_PRIME, universal_coeffs

    sh = doc_shingles(df)
    # bind the base hash once in its own projection so the md5 isn't
    # re-evaluated per aggregate (same CSE caveat as shingles)
    based = sh.select("doc_id", hash32(F.col("shingle"), seed="mh").alias("_x"))
    x = F.col("_x")
    aggs = [
        F.min((F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{i}")
        for i, (a, b) in enumerate(universal_coeffs(NUM_HASHES))
    ] + [F.count(F.lit(1)).alias("n_shingles")]
    return based.groupBy("doc_id").agg(*aggs)


def band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band keys from a signature table: each
    band's key is the md5 of its row concatenation — a 16-byte
    equi-join key whatever rows_per_band is. Shared by the full-corpus
    pairing (minhash_lsh_pairs) and the incremental batch-vs-corpus
    pairing so the bucketing convention cannot drift between them."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"h{b * ROWS_PER_BAND + r}")
                                    for r in range(ROWS_PER_BAND)
                                ],
                            )
                        ).alias("key"),
                    )
                    for b in range(NUM_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """Distinct LSH candidate pairs (d1 < d2) of a signature table:
    docs sharing the key of at least one band. An equi-join on
    (band, key), so fan-out is bucket collisions, never all pairs."""
    bands = band_keys(sig)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, verified with exact
    Jaccard ≥ threshold. Deterministic end to end (md5-derived hash
    family) — the oracle replicates the identical pipeline.

    Plan shape: signatures (1 shuffle) → band keys (narrow) →
    self-join on (band, key) (1 shuffle on 16-byte md5 band keys) →
    exact verification only for bucket-colliding pairs, shingling
    ONLY candidate docs (broadcast semi join on the candidate ids).

    The signatures (17 longs/doc) and the candidate pairs are built
    eagerly, once each, by operators.materialize: each is scanned
    several times downstream (band sides and sizes; the two id
    selects and the verification join). A lazy cache() is worse
    here under AQE: every scan of it becomes its own table-cache
    query stage, the stages run at the same time, and each builds the
    cache (21 jobs per call at sf0.001 with cache(), 12 with
    materialize). Signatures rather than the exploded shingle table
    are held because the shingles are ~the corpus size; this leaves
    ONE full-corpus tokenization in the pipeline.

    The call runs those two builds; the returned frame is lazy over
    them. release_caches() frees them, and the result is not
    recomputable afterwards: call the operator again instead of
    re-executing a held result.
    """
    from mpi_word_count_spark.operators import materialize

    sig = materialize(minhash_signatures(df))
    return _verify_candidates_jaccard(
        df,
        materialize(lsh_candidates(sig)),
        sig.select("doc_id", "n_shingles"),
        threshold,
    )


def dup_clusters(df: DataFrame, pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over duplicate pairs → (doc_id, cluster_id)
    with cluster_id = min doc id of the component; docs in no pair are
    their own singleton cluster. This is the step that turns pairwise
    near-dup evidence into the canonical-document assignment an actual
    dedup pipeline keeps (keep cluster_id == doc_id, drop the rest).

    Min-label propagation: each round every node takes the min label
    over its neighbors and itself; converges in ≤ diameter rounds (dup
    components are short chains/cliques in practice, so a handful).
    The edge list holds both orientations of every pair plus a
    self-loop on each endpoint, built by one explode with no union or
    distinct: repeated edges cannot change a min, and the self-loop
    makes "neighbors and itself" a plain join. Round 1 is the lazy
    start state min(src) per dst, with no label join. Every later
    round is ONE join of the edges with the labels and ONE aggregation
    per dst, which also carries the node's own pre-round label (the
    self-loop's) as `_old`; the loop stops at the first round where
    no label differs from `_old`, tested by a one-job isEmpty() probe
    on the round's checkpoint. `max_iters` bounds the rounds, round 1
    included; as round 1 is never tested, max_iters < 2 always raises.

    Spark jobs of one warm registered dedup_clusters call at sf0.001,
    21 in all (pinned by tests/test_dedup.py): 6 for the MinHash
    signatures and candidates, 5 to materialize the edge list, 5 per
    checkpointed round, 1 per isEmpty() probe and 4 for the result.
    On long chains dup_clusters_twostar needs O(log n) rounds instead
    of the diameter.

    Lineage MUST be truncated, not just cached: `pairs` is typically a
    full LSH pipeline, and because cache substitution happens at
    physical planning, every round's ANALYZED plan re-embeds the whole
    upstream tree — the tree doubles per round and Catalyst analysis
    goes exponential (measured: round 0 = 7.8s, round 1 = 104s at
    sf0.1 with cached inputs; 2.9s total after truncation). The edge
    list is materialized once and each round's labels are checkpointed
    by operators.iterate, which keeps every plan O(1). At cluster
    scale set a checkpoint dir (sparkContext.setCheckpointDir): the
    rounds then go through reliable checkpoint() and survive executor
    loss — same plan shape, exercised by tests/test_dedup.py::
    test_dup_clusters_reliable_checkpoint. Raises RuntimeError when
    the labels have not converged within `max_iters` rounds.
    """
    from mpi_word_count_spark.operators import iterate, materialize

    ends = (("d1", "d2"), ("d2", "d1"), ("d1", "d1"), ("d2", "d2"))
    edge = [F.struct(F.col(a).alias("src"), F.col(b).alias("dst")) for a, b in ends]
    edges = materialize(
        pairs.select(F.explode(F.array(*edge)).alias("e")).select("e.src", "e.dst")
    )

    def step(labels: DataFrame) -> DataFrame:
        labels = labels.select("v", "label")
        return (
            edges.join(labels, edges.src == labels.v)
            .groupBy(F.col("dst").alias("v"))
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("src") == F.col("dst"), F.col("label"))).alias("_old"),
            )
        )

    # silent non-convergence would hand back labels that are only
    # PART-WAY merged — wrong clusters that look plausible; iterate
    # raises instead, and the caller either raises max_iters (component
    # diameter bound) or switches to large-star/small-star.
    labels = iterate(
        edges.groupBy(F.col("dst").alias("v")).agg(F.min("src").alias("label")),
        step,
        rounds=max_iters - 1,
        every=0,
        until=lambda _, new: new.filter(F.col("label") != F.col("_old")).isEmpty(),
    ).select("v", "label")
    # CONTRACT: the final labels' checkpoint has no recomputable
    # lineage, so a dup_clusters result must not be re-executed AFTER
    # release_caches() — re-derive it (call dup_clusters again) instead.
    ids = df.select(F.col("doc_id").alias("doc_id"))
    return ids.join(
        labels.select(F.col("v").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id")
    )


SIMHASH_BITS = 60  # 15 hex chars of md5 — fits signed int64 in every engine


def _simhash_terms(df: DataFrame) -> DataFrame:
    from mpi_word_count_spark.operators import widen

    return (
        widen(df)
        .select(
            F.col("doc_id").alias("doc_id"), F.explode(tokens_col("text")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("th", hash60(F.col("term")))
    )


def simhash(df: DataFrame) -> DataFrame:
    """SimHash fingerprint per document (term-frequency weighted).

    For each bit j: sum over distinct terms of ±tf (sign from bit j of
    the term hash); fingerprint bit j is 1 iff the sum is positive.

    All `SIMHASH_BITS` positions fold inside one grouped Arrow/numpy kernel
    instead of exploding docs × terms × bits rows through two
    shuffles: the only shuffle is the groupBy of (term, tf, th) rows —
    a 60× reduction in shuffled rows, measured 1.4× faster locally.
    The sign matrix is (terms × bits) int64; batches stream through
    applyInPandas without materializing a partition. The DuckDB oracle
    and tests/test_dedup.py's JVM-expression reference compute the
    same integer fold row-wise (tested bit-identical).
    """
    import pandas as pd

    # Coarse buckets, not per-doc groups: applyInPandas pays a pandas
    # DataFrame per GROUP, so thousands of tiny doc-groups drown in
    # framing overhead (measured 5× slower than the expression path).
    # One group per bucket keeps the kernel amortized; the per-doc
    # fold inside is a vectorized pandas groupby. Bucket on hash(id),
    # not the id itself — ids can be strings, and raw numeric ids can
    # carry patterns (all-even ids would leave half the buckets empty).
    n_buckets = 64
    terms = _simhash_terms(df).withColumn(
        "_bucket", F.pmod(F.hash(F.col("doc_id")), F.lit(n_buckets))
    )
    id_type = df.schema["doc_id"].dataType.simpleString()

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        th = pdf["th"].to_numpy(dtype=np.int64)
        tf = pdf["tf"].to_numpy(dtype=np.int64)
        j = np.arange(SIMHASH_BITS, dtype=np.int64)
        signs = ((th[:, None] >> j[None, :]) & 1) * 2 - 1  # (terms, bits) ±1
        contrib = pd.DataFrame(tf[:, None] * signs)
        contrib["doc_id"] = pdf["doc_id"].to_numpy()
        sums = contrib.groupby("doc_id").sum()  # (docs, bits)
        fp = ((sums.to_numpy() > 0).astype(np.int64) << j[None, :]).sum(axis=1)
        return pd.DataFrame({"doc_id": sums.index.to_numpy(), "simhash": fp})

    return terms.groupBy("_bucket").applyInPandas(
        fold, f"doc_id {id_type}, simhash long"
    )


def simhash_chunk_bounds(
    bits: int = SIMHASH_BITS, max_hamming: int = 8
) -> list[tuple[int, int]]:
    """(shift, width) per chunk, splitting `bits` into max_hamming+1
    near-equal chunks. Pigeonhole: any pair within hamming distance
    max_hamming agrees exactly on ≥1 chunk."""
    chunks = max_hamming + 1
    bounds = [bits * j // chunks for j in range(chunks + 1)]
    return [(bounds[j], bounds[j + 1] - bounds[j]) for j in range(chunks)]


def simhash_banded_pairs(df: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash hamming ≤ max_hamming — the SCALE
    path: equi-join on fingerprint chunks instead of the all-pairs
    comparison. Produces IDENTICAL output to the all-pairs pairing (the
    pigeonhole guarantee is exact, not probabilistic), but candidate
    generation is a hash join on (chunk_no, chunk_value) whose cost
    tracks collision structure, not |docs|² — the same banding idea
    as MinHash LSH, with zero recall loss.
    """
    from mpi_word_count_spark.operators import materialize

    s = materialize(simhash(df))
    chunks = [
        F.struct(
            F.lit(j).alias("band"),
            F.expr(f"shiftright(simhash, {shift}) & {(1 << width) - 1}").alias(
                "chunk"
            ),
        )
        for j, (shift, width) in enumerate(
            simhash_chunk_bounds(SIMHASH_BITS, max_hamming)
        )
    ]
    bands = s.select(
        "doc_id", "simhash", F.explode(F.array(*chunks)).alias("bk")
    ).select("doc_id", "simhash", "bk.band", "bk.chunk")
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            ham.cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# Banded hyperplane-LSH geometry for embedding dedup: 8 bands × 3 sign
# bits. P(pair collides in ≥1 band) = 1 − (1 − (1 − θ/π)^3)^8 ≈ 0.90 at
# cos = 0.4 (θ = arccos) and ≥ 0.97 at cos ≥ 0.6 — recall rises steeply
# with similarity, the S-curve shape banded LSH is chosen for. More
# planes per band sharpens selectivity (fewer candidates) at the cost
# of recall; tune per corpus at deployment.
NUM_EMB_BANDS = 8
EMB_PLANES_PER_BAND = 3


def embedding_band_keys(
    df: DataFrame,
    dim: int = EMBED_DIM,
    extra_cols: tuple[str, ...] = (),
    with_all: str | None = None,
) -> DataFrame:
    """(_id, band, bucket[, *extra_cols]) hyperplane-LSH band keys for
    a vector table: per band, bucket = the sign bits of that band's
    md5-derived hyperplanes. Scan-local (no shuffle) — the banding
    front end shared by embedding_dup_pairs_banded and
    embedding_contamination. `extra_cols` carries flag columns through
    so callers can band once and split afterwards instead of
    instantiating the (heavy-to-codegen) banding expressions twice.
    `with_all` additionally carries the vector's FULL bucket array
    under that column name (band = array index), for consumers that
    reason about all of a vector's bands per candidate row (the
    first-colliding-band device in streaming_embedding_dedup)."""
    from mpi_word_count_spark.operators.similarity import lsh_bucket_array, lsh_planes

    planes = lsh_planes(NUM_EMB_BANDS * EMB_PLANES_PER_BAND, dim)
    # all bands' buckets as ONE expression; element b equals the ANN
    # kernel (similarity.lsh_bucket_col) over band b's plane slice, so
    # dedup banding can never drift from ANN banding or their shared
    # oracle convention — see lsh_bucket_array's equivalence note
    buckets = lsh_bucket_array(
        F.col("embedding"), planes, NUM_EMB_BANDS, EMB_PLANES_PER_BAND
    )
    all_cols = (with_all,) if with_all else ()
    return (
        df.select(
            F.col("vec_id").alias("_id"),
            buckets.alias("_bk_arr"),
            *extra_cols,
        )
        .select(
            "_id",
            F.posexplode("_bk_arr").alias("band", "bucket"),
            *extra_cols,
            *(F.col("_bk_arr").alias(with_all),) if with_all else (),
        )
        .select("_id", "band", "bucket", *extra_cols, *all_cols)
    )


def embedding_contamination(
    emb: DataFrame,
    bench_filter: Column,
    threshold: float = 0.3,
) -> DataFrame:
    """Embedding-space decontamination: corpus vectors semantically
    close (cos ≥ τ) to ANY benchmark vector — the paraphrase-robust
    companion to the 8-gram benchmark_contamination scan, which only
    catches verbatim overlap.

    Returns (vec_id, n_bench_hits, max_cosine) per contaminated
    corpus vector.

    Scale shape: the benchmark side is an eval set — small by nature —
    so BOTH its band keys and its raw vectors broadcast. The corpus is
    scanned twice, both times shuffle-free on the corpus side:
      1. band keys (scan-local) ⋈ broadcast(bench band keys) →
         distinct candidate (corpus, bench) id pairs — the only
         shuffle in the plan, over candidate id pairs only;
      2. corpus scan ⋈ broadcast(candidates) ⋈ broadcast(bench
         vectors) → exact cosine on candidate rows only, then the
         tiny per-vec_id aggregation.
    The corpus' vectors are never shuffled, never self-joined.
    Deterministic (md5-derived planes), so the DuckDB oracle
    reproduces the identical candidate set and verdicts.
    """
    from mpi_word_count_spark.functions.vector import dot, norm

    bench = emb.filter(bench_filter)
    corpus = emb.filter(~bench_filter)
    # band ONCE over the whole table and split afterwards: the banding
    # expression tree (num_bands × planes_per_band × dim literal
    # multiply-adds) dominates whole-stage-codegen compile time, so
    # instantiating it twice (bench + corpus) doubled plan bring-up
    # for zero execution benefit — the split is a trivial filter on
    # the already-banded rows
    all_bands = embedding_band_keys(
        emb.withColumn("_is_bench", bench_filter),
        extra_cols=("_is_bench",),
    )
    bench_bands = all_bands.filter(F.col("_is_bench")).select(
        F.col("_id").alias("bench_id"), "band", "bucket"
    )
    corpus_bands = all_bands.filter(~F.col("_is_bench")).select(
        "_id", "band", "bucket"
    )
    candidates = (
        corpus_bands.join(F.broadcast(bench_bands), ["band", "bucket"])
        .select(F.col("_id").alias("cand_id"), "bench_id")
        .distinct()
    )
    bench_vecs = bench.select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("_bvec"),
        norm(F.col("embedding")).alias("_bnorm"),
    )
    scored = (
        corpus.select(
            F.col("vec_id"),
            F.col("embedding").alias("_vec"),
            norm(F.col("embedding")).alias("_norm"),
        )
        .join(F.broadcast(candidates), F.col("vec_id") == F.col("cand_id"))
        .join(F.broadcast(bench_vecs), "bench_id")
        .select(
            F.col("vec_id"),
            F.round(
                dot(F.col("_vec"), F.col("_bvec"))
                / (F.col("_norm") * F.col("_bnorm")),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return scored.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_bench_hits"),
        F.max("cosine").alias("max_cosine"),
    )


def embedding_dup_pairs_banded(
    df: DataFrame,
    threshold: float = 0.4,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, cos ≥ τ) with
    banded random-hyperplane LSH candidate generation — the 100 TB
    plan. Same shape as MinHash LSH: per band, bucket = the sign bits
    of that band's hyperplanes; candidates are same-(band, bucket)
    pairs (hash equi-join, never a theta join over the corpus); exact
    cosine verification runs only on the distinct candidate id pairs.

    Recall < 1 by construction (cross-bucket pairs in every band are
    missed) — the documented trade every embedding-dedup system at
    scale makes; geometry constants set the S-curve. Deterministic
    (md5-derived planes, functions/hashing.py) so the DuckDB oracle
    reproduces the identical candidate set.
    """
    from mpi_word_count_spark.functions.vector import dot, norm

    bands = embedding_band_keys(df, dim=dim)
    a = bands.alias("a")
    b_ = bands.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )
    v = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_vec"),
        norm(F.col("embedding")).alias("_norm"),
    )
    va = v.alias("va")
    vb = v.alias("vb")
    return (
        candidates.join(va, F.col("id1") == F.col("va._id"))
        .join(vb, F.col("id2") == F.col("vb._id"))
        .select(
            "id1",
            "id2",
            F.round(
                dot(F.col("va._vec"), F.col("vb._vec"))
                / (F.col("va._norm") * F.col("vb._norm")),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def incremental_embedding_dups(
    emb: DataFrame,
    batch_filter: Column,
    threshold: float = 0.4,
    dim: int = EMBED_DIM,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental SEMANTIC near-duplicate classification of a new
    vector batch against an existing embedding corpus — the embedding
    twin of incremental_minhash_dups (and the continuous-ingest piece
    of the ANN family). Returns one row per BATCH vector: (vec_id,
    dup_of, status, n_matches, max_cosine) with status ∈
    {dup_of_corpus, dup_in_batch, unique}; corpus matches take
    precedence, dup_of is the smallest qualifying id of the winning
    class, and every match is verified with exact cosine ≥ τ (never
    bucket collision alone).

    The incremental point: when `corpus_buckets` is supplied (a
    persisted hyperplane-LSH bucket store — num_bands longs/vector
    written once per corpus version, (_id, band, bucket)), ONLY the
    batch is banded; the corpus contributes nothing but its stored
    band keys to the candidate join, and corpus vectors are scanned
    only to verify the (few) candidates. At 100 TB that is the
    difference between re-banding the corpus per snapshot and reading
    kilobytes per incoming vector.

    Plan shape (the batch is small by nature — one ingest tick):
      1. batch band keys (scan-local) broadcast against the corpus
         bucket store → candidate (batch, corpus) id pairs; every
         candidate contains a batch vector, so fan-out is
         O(batch · bands), never O(corpus · bands);
      2. batch-vs-batch candidates from the broadcast self-join of
         the batch band keys (larger id owns the pair, like the
         MinHash twin);
      3. ONE corpus scan ⋈ broadcast(candidates) ⋈ broadcast(batch
         vectors) → exact cosine on candidate rows only.
    The corpus is never self-joined and its vectors are never
    shuffled. Deterministic md5-derived planes, so the DuckDB oracle
    reproduces the identical candidate set and verdicts.

    Without `corpus_buckets` both sides are banded in one pass
    (fixture mode; the bucket-store path is equivalence-tested in
    tests/test_dedup.py).

    Optimization r10: the vector table is widen()ed once at entry — a
    small parquet input scans as ONE task, which serialized the
    O(batch·bands) candidate fan-out and every exact-cosine fold onto
    one core (measured 7.4 s at sf0.1, ~3x improvement from this line
    alone; OPTIMIZATION_r10.md). At scale the scan already has
    thousands of splits and widen is a no-op."""
    from mpi_word_count_spark.functions.vector import dot, norm
    from mpi_word_count_spark.operators import materialize, widen

    emb = widen(emb)

    if corpus_buckets is None:
        all_bands = embedding_band_keys(
            emb.withColumn("_is_batch", batch_filter),
            dim=dim,
            extra_cols=("_is_batch",),
        )
        batch_bands = all_bands.filter(F.col("_is_batch")).select(
            "_id", "band", "bucket"
        )
        corpus_bands = all_bands.filter(~F.col("_is_batch")).select(
            "_id", "band", "bucket"
        )
    else:
        batch_bands = embedding_band_keys(
            emb.filter(batch_filter),
            dim=dim,
        )
        corpus_bands = corpus_buckets.select("_id", "band", "bucket")
    batch_bands = materialize(batch_bands)
    bb = batch_bands.alias("bb")
    corpus_cands = (
        corpus_bands.alias("o")
        .join(
            F.broadcast(bb),
            (F.col("bb.band") == F.col("o.band"))
            & (F.col("bb.bucket") == F.col("o.bucket")),
        )
        .select(
            F.col("bb._id").alias("did"),
            F.col("o._id").alias("other"),
            F.lit(False).alias("other_is_batch"),
        )
    )
    batch_cands = (
        bb.join(
            F.broadcast(batch_bands.alias("o2")),
            (F.col("bb.band") == F.col("o2.band"))
            & (F.col("bb.bucket") == F.col("o2.bucket"))
            & (F.col("o2._id") < F.col("bb._id")),
        )
        .select(
            F.col("bb._id").alias("did"),
            F.col("o2._id").alias("other"),
            F.lit(True).alias("other_is_batch"),
        )
    )
    candidates = corpus_cands.unionByName(batch_cands).distinct()
    batch_vecs = emb.filter(batch_filter).select(
        F.col("vec_id").alias("did"),
        F.col("embedding").alias("_bvec"),
        norm(F.col("embedding")).alias("_bnorm"),
    )
    other_vecs = emb.select(
        F.col("vec_id").alias("other"),
        F.col("embedding").alias("_ovec"),
        norm(F.col("embedding")).alias("_onorm"),
    )
    passed = (
        other_vecs.join(F.broadcast(candidates), "other")
        .join(F.broadcast(batch_vecs), "did")
        .select(
            "did",
            "other",
            "other_is_batch",
            F.round(
                dot(F.col("_bvec"), F.col("_ovec"))
                / (F.col("_bnorm") * F.col("_onorm")),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    agg = passed.groupBy("did").agg(
        F.min(F.when(~F.col("other_is_batch"), F.col("other"))).alias("c_min"),
        F.min(F.when(F.col("other_is_batch"), F.col("other"))).alias("b_min"),
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.max("cosine").alias("max_cosine"),
    )
    status = (
        F.when(F.col("c_min").isNotNull(), F.lit("dup_of_corpus"))
        .when(F.col("b_min").isNotNull(), F.lit("dup_in_batch"))
        .otherwise(F.lit("unique"))
    )
    flags = emb.select(F.col("vec_id").alias("vec_id"), batch_filter.alias("is_batch"))
    return (
        flags.filter(F.col("is_batch"))
        # agg is batch-sized: broadcast so the closing left join (and
        # with it the whole plan) never shuffles
        .join(F.broadcast(agg), flags.vec_id == agg.did, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("c_min"), F.col("b_min")).alias("dup_of"),
            status.alias("status"),
            F.coalesce(F.col("n_matches"), F.lit(0).cast("bigint")).alias(
                "n_matches"
            ),
            F.col("max_cosine"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    max_distance: int = 40,
    min_shared_shingles: int = 3,
    prefix_chars: int = 256,
) -> DataFrame:
    """Near-duplicate pairs verified by LEVENSHTEIN distance on a
    bounded text prefix (d1 < d2, distance ≤ max_distance).

    Candidate generation is the same inverted-shingle-index equi-join
    as ngram_jaccard_pairs — pairs must share ≥ min_shared_shingles
    distinct word n-grams before any edit distance runs — so the
    O(prefix²) DP kernel only ever executes on pairs that are already
    plausibly similar, and never as an all-pairs plan. The kernel
    itself is JVM codegen (F.levenshtein), not a Python UDF, and the
    prefix cap bounds per-pair cost at prefix_chars² regardless of
    document length; the texts join back by id AFTER candidate
    generation, so full documents are never shuffled through the
    shingle index.

    All outputs are integers — the oracle comparison is bitwise.
    DuckDB's levenshtein implements the same unit-cost distance for
    ASCII but counts UTF-8 BYTES on multibyte codepoints where Spark
    counts characters (the correct text semantics); the fixture corpus
    is pure ASCII, and both the parity and the divergence are locked
    by tests/test_dedup.py::test_levenshtein_parity_with_duckdb.

    Optimization r11 (VERDICT r10 item 5, guide §2.3/§3): the index
    rows carry the PREFIX length (plen = min(|text|, prefix_chars) —
    the lengths the DP actually compares) and the candidate self-join
    bands on |plen₁ − plen₂| ≤ max_distance. Lossless by the
    Levenshtein lower bound lev(p₁,p₂) ≥ ||p₁| − |p₂||: every pair
    the band drops would fail the final distance filter anyway, so
    the output is bit-identical while candidate fan-out (and the DP
    kernel invocations) is bounded by the length band at scale.
    """
    sh = doc_shingles(
        df,
        extra_cols={
            "plen": F.least(F.length(F.col("text")), F.lit(prefix_chars)).cast("int")
        },
    )
    candidates = (
        _shared_shingle_pairs(
            sh,
            pair_filter=lambda a, b: F.abs(
                F.col("a.plen") - F.col("b.plen")
            )
            <= max_distance,
        )
        .withColumnRenamed("inter", "n_shared")
        .filter(F.col("n_shared") >= min_shared_shingles)
    )
    texts = df.select(
        F.col("doc_id").alias("_tid"),
        F.substring(F.col("text"), 1, prefix_chars).alias("_prefix"),
    )
    t1 = texts.alias("t1")
    t2 = texts.alias("t2")
    return (
        candidates.join(t1, F.col("d1") == F.col("t1._tid"))
        .join(t2, F.col("d2") == F.col("t2._tid"))
        .select(
            "d1",
            "d2",
            "n_shared",
            F.levenshtein(F.col("t1._prefix"), F.col("t2._prefix"))
            .cast("bigint")
            .alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= max_distance)
    )


def incremental_exact_dedup(df: DataFrame, batch_filter: Column) -> DataFrame:
    """Incremental-ingest dedup: classify each NEW-batch document
    against the existing corpus and against the rest of its batch.

    The production shape: a pipeline ingests a new crawl snapshot into
    a deduplicated corpus, and each incoming doc is either
      'dup_of_corpus' — its exact content already exists in the
                        corpus (drop it),
      'dup_in_batch'  — first seen inside THIS batch by an earlier
                        (lower-id) doc (drop, keep the canonical), or
      'unique'        — genuinely new (ingest it).

    One shuffle total: every row is hashed (16-byte md5 key), and both
    classifications come from window aggregates over the SAME
    content-hash partitioning — no corpus-vs-batch join, no second
    exchange. At 100 TB the shuffle carries (id, hash, flag) rows,
    never document bodies, and the corpus side never rewrites.
    """
    w = Window.partitionBy("content_hash")
    flagged = df.select(
        F.col("doc_id").alias("doc_id"),
        F.md5(F.col("text")).alias("content_hash"),
        batch_filter.alias("_is_batch"),
    )
    has_corpus = (
        F.max(F.when(~F.col("_is_batch"), 1).otherwise(0)).over(w) == 1
    )
    batch_min = F.min(F.when(F.col("_is_batch"), F.col("doc_id"))).over(w)
    status = (
        F.when(has_corpus, F.lit("dup_of_corpus"))
        .when(F.col("doc_id") > batch_min, F.lit("dup_in_batch"))
        .otherwise(F.lit("unique"))
    )
    return (
        flagged.withColumn("status", status)
        .filter(F.col("_is_batch"))
        .select("doc_id", "content_hash", "status")
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def dup_clusters_twostar(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contractions — the published MapReduce-era algorithm whose round
    count is O(log n) in expectation, vs the component DIAMETER for
    min-label propagation (dup_clusters). Same output contract:
    (doc_id, cluster_id = component-min id, singletons self-labeled).

    Each operation is one aggregation + one join on the CURRENT edge
    set: for every node u with m(u) = min(N(u) ∪ {u}), large-star
    rewires the neighbors ABOVE u to m(u), small-star the neighbors
    at-or-below. Both strictly shrink the sum of edge endpoints, so
    the edge set contracts toward min-rooted stars; convergence is an
    exact set-fixpoint test (exceptAll, not a fingerprint). The edge
    set never grows beyond the input — at 100 TB every round shuffles
    at most the CURRENT edges, and the log-round bound is what makes
    long-chain components (pathological for label propagation)
    tractable.

    dup_clusters remains the default for near-dup workloads: dup
    components are short chains/cliques where its per-round cost is
    lower. This variant is the scale escape hatch its docstring
    promises, equivalence-tested against it (including on random
    graphs) and value-hash-verified against the same recursive-CTE
    oracle.
    """
    from mpi_word_count_spark.operators import iterate

    def star(e: DataFrame, large: bool) -> DataFrame:
        """One star operation over the symmetric edge set `e`:
        large-star(u) rewires {v ∈ N(u): v > u} to m(u); small-star(u)
        rewires {v ∈ N(u): v ≤ u} ∪ {u} to m(u) — the {u} self-rewire
        is load-bearing: without it a hub whose neighbors are all
        smaller emits nothing for itself and its component splits
        (caught on a 1–2–3 chain before this shipped)."""
        mins = e.groupBy("src").agg(F.min("dst").alias("_mn"))
        m = F.least(F.col("_mn"), F.col("src"))
        cond = F.col("dst") > F.col("src") if large else F.col("dst") <= F.col("src")
        rewired = (
            e.join(mins, "src")
            .filter(cond)
            .select(F.col("dst").alias("src"), m.alias("dst"))
        )
        if not large:
            rewired = rewired.union(mins.select(F.col("src"), m.alias("dst")))
        return rewired.filter(F.col("src") != F.col("dst")).distinct()

    def fixpoint(old: DataFrame, new: DataFrame) -> bool:
        return new.exceptAll(old).isEmpty() and old.exceptAll(new).isEmpty()

    edges = iterate(
        _symmetrize(pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")))
        .filter(F.col("src") != F.col("dst")),
        lambda e: _symmetrize(star(e, large=True)),
        lambda e: _symmetrize(star(e, large=False)),
        rounds=25,
        until=fixpoint,
    )
    # fixpoint edge set = min-rooted stars (symmetric): each node's
    # label is min(neighbors ∪ self)
    labels = edges.groupBy(F.col("src").alias("v")).agg(
        F.least(F.min("dst"), F.col("src")).alias("label")
    )
    ids = df.select(F.col("doc_id").alias("doc_id"))
    return ids.join(
        labels.select(F.col("v").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id")
    )


def incremental_minhash_dups(
    df: DataFrame,
    batch_filter: Column,
    threshold: float = 0.5,
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-duplicate classification of a new batch against
    an existing corpus — the LSH companion of incremental_exact_dedup.
    Returns one row per BATCH doc: (doc_id, dup_of, status, n_matches)
    with status ∈ {dup_of_corpus, dup_in_batch, unique}; corpus
    matches take precedence, dup_of is the smallest qualifying id of
    the winning class, and matches are verified with exact Jaccard ≥
    threshold (never bucket-collision alone).

    The incremental point: when `corpus_signatures` is supplied (a
    persisted signature store — 17 longs/doc written once per corpus
    version), ONLY the batch is tokenized and signed; the corpus
    contributes nothing but its stored signatures to the band join,
    and corpus text is touched only to verify the (few) candidate
    pairs. At 100 TB that is the difference between re-reading the
    corpus per snapshot and reading kilobytes per incoming doc. The
    band join itself is batch-driven: every candidate contains a batch
    doc, so fan-out is O(batch · bands), not O(corpus · bands).

    Without `corpus_signatures` both sides are signed in one pass
    (fixture mode; the store path is equivalence-tested in
    tests/test_dedup.py). Signatures and candidates are materialized
    as in minhash_lsh_pairs, under the same contract.
    """
    from mpi_word_count_spark.operators import materialize

    flags = df.select(F.col("doc_id").alias("doc_id"), batch_filter.alias("is_batch"))
    if corpus_signatures is None:
        sig = minhash_signatures(df)
    else:
        batch_sig = minhash_signatures(df.filter(batch_filter))
        sig = corpus_signatures.unionByName(batch_sig)
    sig = materialize(sig)
    tagged = band_keys(sig).join(flags, "doc_id")
    bb = tagged.filter(F.col("is_batch")).alias("bb")
    other = tagged.alias("o")
    candidates = materialize(
        bb.join(
            other,
            (F.col("bb.band") == F.col("o.band"))
            & (F.col("bb.key") == F.col("o.key"))
            & (F.col("o.doc_id") != F.col("bb.doc_id"))
            & (~F.col("o.is_batch") | (F.col("o.doc_id") < F.col("bb.doc_id"))),
        )
        .select(
            F.col("bb.doc_id").alias("did"),
            F.col("o.doc_id").alias("other"),
            F.col("o.is_batch").alias("other_is_batch"),
        )
        .distinct()
    )
    passed = _verify_candidates_jaccard(
        df,
        candidates,
        sig.select("doc_id", "n_shingles"),
        threshold,
        left="did",
        right="other",
        extra=("other_is_batch",),
    ).select("did", "other", "other_is_batch")
    agg = passed.groupBy("did").agg(
        F.min(F.when(~F.col("other_is_batch"), F.col("other"))).alias("c_min"),
        F.min(F.when(F.col("other_is_batch"), F.col("other"))).alias("b_min"),
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
    )
    status = (
        F.when(F.col("c_min").isNotNull(), F.lit("dup_of_corpus"))
        .when(F.col("b_min").isNotNull(), F.lit("dup_in_batch"))
        .otherwise(F.lit("unique"))
    )
    return (
        flags.filter(F.col("is_batch"))
        .join(agg, flags.doc_id == agg.did, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("c_min"), F.col("b_min")).alias("dup_of"),
            status.alias("status"),
            F.coalesce(F.col("n_matches"), F.lit(0).cast("bigint")).alias(
                "n_matches"
            ),
        )
    )


def ppjoin_pairs(
    df: DataFrame,
    threshold_pct: int = 50,
    shingle_n: int | None = 3,
) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the
    PPJoin family, Xiao et al. WWW'08): all pairs (d1 < d2) with
    set Jaccard ≥ threshold_pct/100 over each document's distinct
    n-gram shingle set (`shingle_n=None` switches to unigram token
    sets — only meaningful on corpora whose vocabulary is large
    relative to document length; the driver fixtures draw from a
    31-word vocabulary, so shingles are the discriminative domain).

    Candidate generation explodes only each document's PREFIX — the
    first p = n − ⌈t·n⌉ + 1 elements in the global rarest-first
    canonical order — instead of the full inverted index
    (ngram_jaccard_pairs): two sets with Jaccard ≥ t MUST share at
    least one prefix element, so the equi-join on prefix elements
    loses no qualifying pair while cutting fan-out by ≈ t. The
    rarest-first ordering puts high-df elements in the suffix, so
    prefix posting lists stay short without a stop-shingle guard. A
    length filter (100·min(n1,n2) ≥ t_pct·max(n1,n2) — Jaccard ≥ t
    bounds the size ratio) prunes candidates before verification,
    and verification counts intersections only for surviving pairs.

    All size/threshold arithmetic is integer (threshold as a percent;
    ⌈t·n⌉ = (t_pct·n + 99) div 100), so the prefix boundary and the
    acceptance test 100·|A∩B| ≥ t_pct·|A∪B| are bit-exact across
    engines — the DuckDB oracle runs the NAIVE all-pairs
    shared-element join, making the driver hash-match a proof that
    prefix filtering is lossless.

    Scale: two narrow window shuffles (df per element, rank per doc),
    then equi-joins keyed on prefix elements only. At 100 TB the df
    skew lives in the suffix by construction; candidate volume tracks
    true similarity structure, not |docs|².
    """
    from mpi_word_count_spark.operators import materialize, widen

    toks = widen(df).select(
        F.col("doc_id").alias("doc_id"), tokens_col("text").alias("_toks")
    )
    sets_col = (
        shingles_from_tokens(F.col("_toks"), shingle_n)
        if shingle_n
        else F.array_distinct(F.col("_toks"))
    )
    # explode the set expression DIRECTLY (doc_shingles' form): the
    # Generate node blocks CollapseProject, so the token projection
    # stays materialized below it. Routing the array through an
    # aliased projection instead lets collapse merge tokenize into
    # the shingle HOF lambda — per-element re-tokenization, measured
    # 20.5s vs 3.7s at sf0.1 for this stage. |set| comes from the
    # doc-partition window below (same exchange as the rank), never
    # from a second reference to the array. Materializing tok covers
    # the FOUR plan branches reading tok (ranking, both self-join
    # sides, both verification sides).
    tok = materialize(toks.select("doc_id", F.explode(sets_col).alias("token")))
    w_doc = Window.partitionBy("doc_id")
    w_df = Window.partitionBy("token")
    w_rank = w_doc.orderBy("df", "token")
    ranked = (
        tok.withColumn("df", F.count(F.lit(1)).over(w_df))
        .withColumn("n", F.count(F.lit(1)).over(w_doc))
        .withColumn("rank", F.row_number().over(w_rank))
    )
    prefix_len = (
        F.col("n")
        - F.floor((F.lit(threshold_pct) * F.col("n") + 99) / 100)
        + 1
    )
    # both sides of the candidate self-join read the prefix: hold it
    # so the two window shuffles (df per element, rank per doc) run
    # once, not twice
    prefix = materialize(
        ranked.filter(F.col("rank") <= prefix_len).select(
            "doc_id", "n", "token", "rank"
        )
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # POSITIONAL filter (the P in PPJoin, optimization r11): both
    # documents' sets are sorted by the SAME global (df, token) total
    # order, so for a shared token at ranks (i, j) every other shared
    # element lies before it in BOTH orders or after it in BOTH —
    # inter ≤ min(i−1, j−1) + 1 + min(n1−i, n2−j). The bound holds
    # for EVERY shared token, so a pair is kept only when the MINIMUM
    # bound over its shared prefix tokens still reaches the threshold
    # inter ≥ ⌈t·(n1+n2)/(100+t)⌉ (the acceptance test rearranged);
    # integer arithmetic throughout, so dropped pairs provably fail
    # the exact verification — the oracle's naive all-pairs join
    # proves losslessness end to end. Honest measurement at sf0.1:
    # the fixtures' 16-word vocabulary saturates the 3-gram space, so
    # shared tokens sit at similar shallow ranks and the bound barely
    # bites THERE (309,803 → 308,474 pairs); it earns its keep on
    # realistic Zipf vocabularies where prefix matches at asymmetric
    # depths are the common case (Xiao et al. WWW'08 report
    # order-of-magnitude candidate cuts). Cost is nil: the groupBy
    # replaces the .distinct() the candidate set already paid.
    ubound = F.least(F.col("a.rank"), F.col("b.rank")) + F.least(
        F.col("a.n") - F.col("a.rank"), F.col("b.n") - F.col("b.rank")
    )
    candidates = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                100 * F.least(F.col("a.n"), F.col("b.n"))
                >= threshold_pct * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
        )
        .agg(F.min(ubound).alias("_ub"))
        # integer form of _ub ≥ ⌈t·(n1+n2)/(100+t)⌉
        .filter(
            F.col("_ub") * (100 + threshold_pct)
            >= threshold_pct * (F.col("n1") + F.col("n2"))
        )
        .drop("_ub")
    )
    # Verification via size(array_intersect) over per-doc token
    # arrays built FROM THE MATERIALIZED tok table (optimization r11 —
    # r10 rejected this rewrite when it re-tokenized the corpus; from
    # tok it is one doc-keyed groupBy). tok holds each doc's
    # DISTINCT shingles, so collect_list yields the set and the
    # intersect size IS the old (pair × shared-token) join's count.
    # The old form exploded 310k candidates × ~52 tokens into a ~16M
    # row join chain; this form joins the candidate pairs against a
    # doc-count-sized sets table (broadcastable here; at corpus scale
    # the joins fall back to shuffles carrying each doc's array per
    # candidate pair — the same hub-replication trade-off documented
    # on _verify_candidates_jaccard, acceptable because candidates
    # are threshold-sparse by the prefix+positional filters).
    # Measured at sf0.1 (dissected): verification 3.07 s → ~0.5 s;
    # end-to-end warm 3.55 s → 2.4-2.6 s.
    sets = tok.groupBy("doc_id").agg(F.collect_list("token").alias("_set"))
    sa_, sb_ = sets.alias("sa"), sets.alias("sb")
    inter = (
        candidates.join(sa_, F.col("d1") == F.col("sa.doc_id"))
        .join(sb_, F.col("d2") == F.col("sb.doc_id"))
        .select(
            "d1",
            "d2",
            "n1",
            "n2",
            F.size(
                F.array_intersect(F.col("sa._set"), F.col("sb._set"))
            ).alias("inter"),
        )
    )
    return (
        inter.filter(
            100 * F.col("inter")
            >= threshold_pct * (F.col("n1") + F.col("n2") - F.col("inter"))
        )
        .select(
            "d1",
            "d2",
            F.col("inter").alias("n_common"),
            F.round(
                F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 4
            ).alias("jaccard"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    neighborhood: int = 8,
    max_hamming: int = 8,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (SNM, Hernández &
    Stolfo '95): sort records by a similarity-preserving key — the
    SimHash fingerprint, so near-identical documents land adjacent —
    and compare each record only to the `neighborhood` records that
    follow it in sort order, verifying hamming ≤ max_hamming.
    Candidate volume is exactly n·neighborhood, a HARD bound no
    blocking scheme gives (LSH fan-out depends on data skew), at the
    cost of missing pairs the sort separates; deterministic, so the
    oracle replicates the ranking and the miss set exactly.

    Scale shape: the global rank is the TWO-PASS decomposition, not a
    single-partition window — fingerprints bucket by their top 8 bits
    (monotone in the sort key), per-bucket counts roll into broadcast
    cumulative offsets, and a within-bucket row_number completes the
    rank. The neighborhood join is an equi-join on rank div
    neighborhood (right side emits its own and its predecessor
    bucket), so each candidate pair is produced exactly once.
    """
    from mpi_word_count_spark.operators import materialize

    # materialized: the fingerprint table feeds BOTH the bucket-count
    # branch and the ranked branch, whose exchanges hash on different
    # keys — without the hold the full-corpus applyInPandas simhash pass
    # executes twice (same convention as simhash_banded_pairs)
    s = materialize(simhash(df))
    bucket = F.shiftrightunsigned("simhash", SIMHASH_BITS - 8).alias("b")
    sb = s.select("doc_id", "simhash", bucket)
    counts = sb.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    w_off = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "b", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off")
    )
    w_in = Window.partitionBy("b").orderBy("simhash", "doc_id")
    ranked = (
        sb.join(F.broadcast(offsets), "b")
        .select(
            "doc_id",
            "simhash",
            (F.col("off") + F.row_number().over(w_in)).alias("rank"),
        )
    )
    key = F.floor((F.col("rank") - 1) / neighborhood)
    left = ranked.select(
        F.col("doc_id").alias("da"),
        F.col("simhash").alias("ha"),
        F.col("rank").alias("ra"),
        key.alias("k"),
    )
    right = ranked.select(
        F.col("doc_id").alias("db"),
        F.col("simhash").alias("hb"),
        F.col("rank").alias("rb"),
        F.explode(F.array(key, key - 1)).alias("k"),
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        left.join(right, "k")
        .filter(
            (F.col("rb") - F.col("ra") >= 1)
            & (F.col("rb") - F.col("ra") <= neighborhood)
        )
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
            ham.cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def winnowing_fingerprints(df: DataFrame, k: int = 4, w: int = 5) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken
    SIGMOD'03, the MOSS algorithm): per document, hash every k-token
    gram, then from each window of w consecutive gram hashes keep the
    MINIMUM (rightmost position on ties). Guarantees: any shared run
    of ≥ w+k-1 tokens yields at least one shared fingerprint, and
    selection density is ~2/(w+1) — the bounded-density alternative
    to hash-mod sampling (passage_windows' sample_mod), which has no
    per-region guarantee.

    Returns distinct (doc_id, pos, fingerprint) selections. The
    (min-hash, rightmost-pos) selection is ONE plain string window
    MIN over the encoded key `hash || zero-padded(10^10 − pos)`: md5
    hex is fixed-width lowercase so its lexicographic order is the
    128-bit numeric order, and the inverted zero-padded position
    breaks ties toward the RIGHTMOST — no nested window expressions,
    bit-identical in Spark and DuckDB.

    Scale shape: gram hashing is the narrow passage_windows pass (no
    shuffle); winnowing itself is two window aggregates over the SAME
    (doc, pos-order) frame — ONE doc-keyed exchange, state bounded by
    w, never document or corpus size.
    """
    grams = passage_windows(df, width=k, stride=1, with_pos=True)
    # 9_999_999_999, NOT 10_000_000_000: the inverted position must
    # stay ≤ 10 digits for EVERY pos ≥ 0, or lpad(..., 10) silently
    # truncates (pos=0 under a base of 10^10 encoded as '1000000000',
    # decoding to pos 9_000_000_000 and inverting the rightmost-on-tie
    # rule — the round-5 ADVICE fix). With this base, pos=0 encodes as
    # '9999999999' and the inversion is exact for all pos < 10^10.
    POS_BASE = 9_999_999_999
    key = F.concat(
        F.col("passage_hash"),
        F.lpad((F.lit(POS_BASE) - F.col("pos")).cast("string"), 10, "0"),
    )
    w_doc = Window.partitionBy("doc_id")
    frame = w_doc.orderBy("pos").rowsBetween(0, w - 1)
    wkey = F.min(key).over(frame)
    n_grams = F.count(F.lit(1)).over(w_doc)
    return (
        grams.select(
            "doc_id", "pos", wkey.alias("_k"), n_grams.alias("_n")
        )
        # full windows only — EXCEPT docs with fewer than w grams,
        # which would otherwise emit ZERO fingerprints and be
        # invisible to every consumer (identical short docs would
        # never match): Schleimer et al.'s degenerate case selects
        # the min over all available grams, i.e. keep pos=0's
        # (partition-clipped) window
        .filter(F.col("pos") <= F.greatest(F.col("_n") - w, F.lit(0)))
        .select(
            "doc_id",
            (
                F.lit(POS_BASE) - F.substring("_k", 33, 10).cast("bigint")
            ).alias("pos"),
            F.substring("_k", 1, 32).alias("fingerprint"),
        )
        .distinct()
    )


CDC_MOD = 16  # expected chunk length in tokens (boundary prob 1/16)


def cdc_chunks(df: DataFrame, mod: int = CDC_MOD) -> DataFrame:
    """Content-defined chunking (the LBFS/FastCDC idea at token
    granularity): a chunk boundary falls BEFORE every token whose
    hash ≡ 0 (mod `mod`), so expected chunk length is `mod` tokens
    and — the property fixed-stride windowing cannot give — chunk
    boundaries depend on CONTENT alone: inserting or deleting a
    prefix re-aligns every chunk after the next boundary, so shifted
    copies of a region still hash to the same chunks
    (passage_windows' stride knob is positional and misses misaligned
    copies; its sample_mod knob selects single windows, while CDC
    partitions the whole document into verifiable units — the
    dedup-storage formulation).

    Returns (doc_id, chunk, start_pos, n_tokens, chunk_hash) — every
    document fully partitioned into ordered chunks, chunk_hash = md5
    of the space-joined tokens.

    Scale shape: tokenize → posexplode is the narrow corpus pass; the
    cumulative boundary count and the chunk re-assembly both run in
    ONE window/groupBy keyed by doc_id — a single doc_id shuffle,
    state bounded by document length, never corpus size. Chunk
    assembly keeps token order via sort_array(collect_list(struct)),
    deterministic under any partitioning.
    """
    posd = df.select(
        F.col("doc_id").alias("doc_id"),
        F.posexplode(tokens_col("text")).alias("p0", "tok"),
    ).select("doc_id", "tok", (F.col("p0") + 1).alias("pos"))
    bd = posd.withColumn(
        "_bd", (hash32(F.col("tok"), seed="cdc") % mod == 0).cast("int")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    ck = bd.withColumn("chunk", F.sum("_bd").over(w))
    return (
        ck.groupBy("doc_id", "chunk")
        .agg(
            F.min("pos").alias("start_pos"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
    )
