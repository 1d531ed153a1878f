"""Dedup queries over `documents`/`embeddings` (SURVEY.md §7 M3).

Every pipeline — including the approximate ones — is deterministic
via md5-derived hashes, so each has a full DuckDB oracle replicating
the identical algorithm (signatures, banding, verification). The
oracle SQL is assembled from the same geometry constants as the Spark
operators; change one and both sides move together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import sql_hash32, sql_hash60
from mpi_word_count_spark.operators.dedup import (
    EMB_PLANES_PER_BAND,
    NUM_BANDS,
    NUM_EMB_BANDS,
    NUM_HASHES,
    SIMHASH_BITS,
    dup_clusters,
    dup_clusters_twostar,
    edit_distance_pairs,
    embedding_dup_pairs_banded,
    exact_dedup,
    incremental_embedding_dups,
    incremental_exact_dedup,
    incremental_minhash_dups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    passage_windows,
    simhash,
    simhash_banded_pairs,
)
from mpi_word_count_spark.registry import register, sql_regex
from mpi_word_count_spark.tables import table

JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 8
COSINE_DUP_THRESHOLD = 0.4

# Shared oracle fragments: tokenization + distinct 3-gram shingles,
# identical to operators/dedup.py tokens_col/shingles_from_tokens.
_SQL_SHINGLES = f"""
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        FROM toks
    ),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
"""


@register(
    "exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(table(spark, "documents", sf_dir))


PASSAGE_WIDTH = 20


@register(
    "duplicate_passages",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS tk
        FROM documents
    ), win AS (
        SELECT doc_id,
               md5(array_to_string(tk[i + 1 : i + {PASSAGE_WIDTH}], ' '))
                   AS passage_hash
        FROM toks, unnest(generate_series(0, len(tk) - {PASSAGE_WIDTH})) AS g(i)
    )
    SELECT passage_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occurrences
    FROM win
    GROUP BY passage_hash
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup: 20-token windows appearing in ≥ 2
    distinct documents (duplicated passages survive whole-document
    dedup — the reason Lee et al. dedup substrings). One shuffle of
    16-byte window hashes; documents never ride the exchange."""
    wins = passage_windows(
        table(spark, "documents", sf_dir), width=PASSAGE_WIDTH, stride=1
    )
    return (
        wins.groupBy("passage_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "ngram_jaccard_dups",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    shared AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(inter * 1.0 / (sa.n_shingles + sb.n_shingles - inter), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON d1 = sa.doc_id
    JOIN sizes sb ON d2 = sb.doc_id
    WHERE round(inter * 1.0 / (sa.n_shingles + sb.n_shingles - inter), 4)
          >= {JACCARD_THRESHOLD}
    """,
)
def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        table(spark, "documents", sf_dir), threshold=JACCARD_THRESHOLD
    )


def _minhash_base_ctes() -> str:
    """CTE text for shingles + MinHash signatures + LSH band keys —
    the SQL twin of minhash_signatures + band_keys, shared by the
    full-corpus pairing oracle and the incremental batch oracle so
    the bucketing convention cannot drift between them."""
    from mpi_word_count_spark.functions.hashing import MINHASH_PRIME, universal_coeffs

    rows_per_band = NUM_HASHES // NUM_BANDS
    base = sql_hash32("shingle", "mh")
    mins = ",\n               ".join(
        f"min(({a} * {base} + {b}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(universal_coeffs(NUM_HASHES))
    )
    band_selects = "\n        UNION ALL\n".join(
        "        SELECT doc_id, {b} AS band, md5({expr}) AS key FROM sig".format(
            b=b,
            expr=" || ',' || ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(NUM_BANDS)
    )
    return f"""{_SQL_SHINGLES},
    sig AS (
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
{band_selects}
    )"""


def _minhash_parts() -> tuple[str, str]:
    """(CTE list, final SELECT) of the MinHash-LSH oracle — split so
    downstream oracles (dedup_clusters) can compose with the pair
    pipeline as a CTE."""
    ctes = f"""{_minhash_base_ctes()},
    candidates AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.d1, c.d2, count(*) AS inter
        FROM candidates c
        JOIN sh sa ON sa.doc_id = c.d1
        JOIN sh sb ON sb.doc_id = c.d2 AND sa.shingle = sb.shingle
        GROUP BY 1, 2
    )"""
    final = f"""
    SELECT v.d1, v.d2,
           round(inter * 1.0 / (za.n_shingles + zb.n_shingles - inter), 4) AS jaccard
    FROM verified v
    JOIN sizes za ON v.d1 = za.doc_id
    JOIN sizes zb ON v.d2 = zb.doc_id
    WHERE round(inter * 1.0 / (za.n_shingles + zb.n_shingles - inter), 4)
          >= {JACCARD_THRESHOLD}
    """
    return ctes, final


def _minhash_oracle() -> str:
    ctes, final = _minhash_parts()
    return f"WITH {ctes}\n{final}"


@register("minhash_lsh_dups", oracle=_minhash_oracle())
def q_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        table(spark, "documents", sf_dir), threshold=JACCARD_THRESHOLD
    )


def _clusters_oracle() -> str:
    ctes, final = _minhash_parts()
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({final}),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs
        UNION
        SELECT d2, d1 FROM pairs
    ),
    reach(v, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.v = e.src
    ),
    labels AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)
    SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
    """


@register("dedup_clusters", oracle=_clusters_oracle())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs → connected components → canonical cluster per
    document (keep cluster_id == doc_id, drop the rest). The oracle
    computes the same components via a recursive transitive closure —
    the iterative Spark algorithm is value-hash-verified end to end."""
    docs = table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    return dup_clusters(docs, pairs)


def _simhash_cte() -> str:
    return f"""
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    terms AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        GROUP BY 1, 2
    ),
    hashed AS (SELECT doc_id, tf, {sql_hash60('term')} AS th FROM terms),
    bits AS (
        SELECT doc_id, j,
               sum(CASE WHEN (th >> j) & 1 = 1 THEN tf ELSE -tf END) AS s
        FROM hashed CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BITS})) AS j)
        GROUP BY 1, 2
    ),
    sim AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM bits GROUP BY 1
    )
"""


@register(
    "simhash_fingerprints",
    oracle=f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM sim",
)
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(table(spark, "documents", sf_dir))


@register(
    "simhash_dups",
    oracle=f"""
    WITH {_simhash_cte()}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary SimHash dedup plan = the pigeonhole-banded equi-join
    (scale path). The oracle is deliberately the ALL-PAIRS SQL: the
    pigeonhole guarantee (any pair within hamming ≤ h agrees on one of
    h+1 fingerprint chunks) makes the banded plan output-identical, so
    hash-matching it against the exhaustive comparison re-proves the
    equivalence every round."""
    return simhash_banded_pairs(
        table(spark, "documents", sf_dir), max_hamming=SIMHASH_MAX_HAMMING
    )


def _simhash_banded_oracle() -> str:
    from mpi_word_count_spark.operators.dedup import simhash_chunk_bounds

    chunk_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, simhash, {j} AS band,"
        f" (simhash >> {shift}) & {(1 << width) - 1} AS chunk FROM sim"
        for j, (shift, width) in enumerate(
            simhash_chunk_bounds(SIMHASH_BITS, SIMHASH_MAX_HAMMING)
        )
    )
    return f"""
    WITH {_simhash_cte()},
    bands AS (
{chunk_selects}
    )
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


@register("simhash_banded_dups", oracle=_simhash_banded_oracle())
def q_simhash_banded_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-banded SimHash pairing — identical output to
    simhash_dups (exact guarantee), equi-join candidate generation
    (the shape that scales). Both registered so the driver verifies
    the equivalence."""
    return simhash_banded_pairs(
        table(spark, "documents", sf_dir), max_hamming=SIMHASH_MAX_HAMMING
    )


def sql_embedding_bands() -> str:
    """UNION-ALL SELECTs producing (vec_id, band, bucket) hyperplane
    band keys over `embeddings` — the SQL twin of
    operators/dedup.embedding_band_keys, shared by the embedding-dedup
    and semantic-contamination oracles."""
    from mpi_word_count_spark.operators.similarity import EMBED_DIM, lsh_planes

    planes = lsh_planes(NUM_EMB_BANDS * EMB_PLANES_PER_BAND, EMBED_DIM)

    def arr(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    return "\n        UNION ALL\n".join(
        "        SELECT vec_id, {b} AS band, ({expr})::BIGINT AS bucket"
        " FROM embeddings".format(
            b=b,
            expr=" + ".join(
                f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
                f"{arr(planes[b * EMB_PLANES_PER_BAND + j])}) >= 0 "
                f"THEN {1 << j} ELSE 0 END)"
                for j in range(EMB_PLANES_PER_BAND)
            ),
        )
        for b in range(NUM_EMB_BANDS)
    )


def _embedding_banded_oracle() -> str:
    """Replicates embedding_dup_pairs_banded: per band, bucket = sign
    bits against that band's md5-derived hyperplane literals; distinct
    same-(band, bucket) candidate pairs; exact cosine verification."""
    return f"""
    WITH bands AS (
{sql_embedding_bands()}
    ),
    candidates AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.id1, c.id2,
           round(list_cosine_similarity(e1.embedding::DOUBLE[],
                                        e2.embedding::DOUBLE[]), 4) AS cosine
    FROM candidates c
    JOIN embeddings e1 ON c.id1 = e1.vec_id
    JOIN embeddings e2 ON c.id2 = e2.vec_id
    WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[],
                                       e2.embedding::DOUBLE[]), 4)
          >= {COSINE_DUP_THRESHOLD}
    """


@register("embedding_dups", oracle=_embedding_banded_oracle())
def q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary embedding-dedup plan = banded hyperplane LSH (equi-join
    candidate generation, the shape that survives 100 TB). Recall < 1
    by construction — the oracle replicates the identical deterministic
    bucketing, so the candidate set itself is hash-verified."""
    return embedding_dup_pairs_banded(
        table(spark, "embeddings", sf_dir), threshold=COSINE_DUP_THRESHOLD
    )


EDIT_MAX_DISTANCE = 120
EDIT_MIN_SHARED = 3
EDIT_PREFIX = 256
BATCH_MOD = 5  # "new batch" = doc_id % 5 == 0; rest is the corpus


@register(
    "edit_distance_dups",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    candidates AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {EDIT_MIN_SHARED}
    )
    SELECT d1, d2, n_shared,
           CAST(levenshtein(substr(ta.text, 1, {EDIT_PREFIX}),
                            substr(tb.text, 1, {EDIT_PREFIX})) AS BIGINT)
               AS edit_distance
    FROM candidates
    JOIN documents ta ON d1 = ta.doc_id
    JOIN documents tb ON d2 = tb.doc_id
    WHERE levenshtein(substr(ta.text, 1, {EDIT_PREFIX}),
                      substr(tb.text, 1, {EDIT_PREFIX})) <= {EDIT_MAX_DISTANCE}
    """,
)
def q_edit_distance_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-blocked candidates verified by JVM levenshtein on a
    256-char prefix — the bounded-cost edit-distance dedup. Integer
    outputs, bitwise oracle."""
    return edit_distance_pairs(
        table(spark, "documents", sf_dir),
        max_distance=EDIT_MAX_DISTANCE,
        min_shared_shingles=EDIT_MIN_SHARED,
        prefix_chars=EDIT_PREFIX,
    )


@register(
    "incremental_exact_dedup",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, md5(text) AS content_hash,
               doc_id % {BATCH_MOD} = 0 AS is_batch
        FROM documents
    ),
    j AS (
        SELECT doc_id, content_hash, is_batch,
               max(CASE WHEN NOT is_batch THEN 1 ELSE 0 END)
                   OVER (PARTITION BY content_hash) AS has_corpus,
               min(CASE WHEN is_batch THEN doc_id END)
                   OVER (PARTITION BY content_hash) AS batch_min
        FROM h
    )
    SELECT doc_id, content_hash,
           CASE WHEN has_corpus = 1 THEN 'dup_of_corpus'
                WHEN doc_id > batch_min THEN 'dup_in_batch'
                ELSE 'unique' END AS status
    FROM j WHERE is_batch
    """,
)
def q_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-snapshot ingest classification (docs with doc_id % 5 == 0
    play the incoming batch): dup-of-corpus / dup-in-batch / unique in
    ONE content-hash shuffle — the incremental production path exact
    dedup takes when a corpus already exists."""
    return incremental_exact_dedup(
        table(spark, "documents", sf_dir),
        batch_filter=F.col("doc_id") % BATCH_MOD == 0,
    )


@register("dedup_clusters_twostar", oracle=_clusters_oracle())
def q_dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(log n)-round large-star/small-star connected components
    over the same MinHash pairs — the long-chain/extreme-scale escape
    hatch beside dup_clusters' diameter-round label propagation. Same
    recursive-CTE oracle; equivalence with dup_clusters additionally
    locked on random graphs in tests/test_dedup.py."""
    docs = table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    return dup_clusters_twostar(docs, pairs)


def _incremental_minhash_oracle() -> str:
    return f"""
    WITH {_minhash_base_ctes()},
    flags AS (
        SELECT doc_id, doc_id % {BATCH_MOD} = 0 AS is_batch FROM documents
    ),
    tb AS (
        SELECT b.doc_id, b.band, b.key, f.is_batch
        FROM bands b JOIN flags f ON b.doc_id = f.doc_id
    ),
    cand AS (
        SELECT DISTINCT bb.doc_id AS did, o.doc_id AS other,
                        o.is_batch AS other_is_batch
        FROM tb bb JOIN tb o ON bb.band = o.band AND bb.key = o.key
        WHERE bb.is_batch AND o.doc_id <> bb.doc_id
          AND (NOT o.is_batch OR o.doc_id < bb.doc_id)
    ),
    ver AS (
        SELECT c.did, c.other, c.other_is_batch, count(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.did
        JOIN sh sb ON sb.doc_id = c.other AND sa.shingle = sb.shingle
        GROUP BY 1, 2, 3
    ),
    passed AS (
        SELECT v.did, v.other, v.other_is_batch
        FROM ver v
        JOIN sizes za ON v.did = za.doc_id
        JOIN sizes zb ON v.other = zb.doc_id
        WHERE round(inter * 1.0 / (za.n_shingles + zb.n_shingles - inter), 4)
              >= {JACCARD_THRESHOLD}
    ),
    agg AS (
        SELECT did,
               min(CASE WHEN NOT other_is_batch THEN other END) AS c_min,
               min(CASE WHEN other_is_batch THEN other END) AS b_min,
               CAST(count(*) AS BIGINT) AS n_matches
        FROM passed GROUP BY 1
    )
    SELECT f.doc_id,
           coalesce(a.c_min, a.b_min) AS dup_of,
           CASE WHEN a.c_min IS NOT NULL THEN 'dup_of_corpus'
                WHEN a.b_min IS NOT NULL THEN 'dup_in_batch'
                ELSE 'unique' END AS status,
           coalesce(a.n_matches, 0) AS n_matches
    FROM flags f LEFT JOIN agg a ON f.doc_id = a.did
    WHERE f.is_batch
    """


@register("incremental_minhash_dups", oracle=_incremental_minhash_oracle())
def q_incremental_minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus NEAR-dup classification (docs with
    doc_id % 5 == 0 play the incoming snapshot): LSH candidates where
    every pair contains a batch doc, exact-Jaccard verification,
    corpus matches outrank in-batch ones. The signature-store path
    (corpus signed once, only the batch tokenized fresh) is
    equivalence-tested in tests/test_dedup.py."""
    return incremental_minhash_dups(
        table(spark, "documents", sf_dir),
        batch_filter=F.col("doc_id") % BATCH_MOD == 0,
        threshold=JACCARD_THRESHOLD,
    )


def _incremental_embedding_oracle() -> str:
    """Replicates incremental_embedding_dups: hyperplane band keys
    (shared SQL twin sql_embedding_bands), batch-driven candidate join
    (every candidate contains a batch vector; batch-batch pairs owned
    by the larger id), exact-cosine verification, corpus-first
    precedence."""
    return f"""
    WITH bands AS (
{sql_embedding_bands()}
    ),
    flags AS (
        SELECT vec_id, vec_id % {BATCH_MOD} = 0 AS is_batch FROM embeddings
    ),
    tb AS (
        SELECT b.vec_id, b.band, b.bucket, f.is_batch
        FROM bands b JOIN flags f ON b.vec_id = f.vec_id
    ),
    cand AS (
        SELECT DISTINCT bb.vec_id AS did, o.vec_id AS other,
                        o.is_batch AS other_is_batch
        FROM tb bb JOIN tb o ON bb.band = o.band AND bb.bucket = o.bucket
        WHERE bb.is_batch AND o.vec_id <> bb.vec_id
          AND (NOT o.is_batch OR o.vec_id < bb.vec_id)
    ),
    passed AS (
        SELECT c.did, c.other, c.other_is_batch,
               round(list_cosine_similarity(e1.embedding::DOUBLE[],
                                            e2.embedding::DOUBLE[]), 4)
                   AS cosine
        FROM cand c
        JOIN embeddings e1 ON e1.vec_id = c.did
        JOIN embeddings e2 ON e2.vec_id = c.other
        WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[],
                                           e2.embedding::DOUBLE[]), 4)
              >= {COSINE_DUP_THRESHOLD}
    ),
    agg AS (
        SELECT did,
               min(CASE WHEN NOT other_is_batch THEN other END) AS c_min,
               min(CASE WHEN other_is_batch THEN other END) AS b_min,
               CAST(count(*) AS BIGINT) AS n_matches,
               max(cosine) AS max_cosine
        FROM passed GROUP BY 1
    )
    SELECT f.vec_id,
           coalesce(a.c_min, a.b_min) AS dup_of,
           CASE WHEN a.c_min IS NOT NULL THEN 'dup_of_corpus'
                WHEN a.b_min IS NOT NULL THEN 'dup_in_batch'
                ELSE 'unique' END AS status,
           coalesce(a.n_matches, 0) AS n_matches,
           a.max_cosine
    FROM flags f LEFT JOIN agg a ON f.vec_id = a.did
    WHERE f.is_batch
    """


@register("incremental_embedding_dups", oracle=_incremental_embedding_oracle())
def q_incremental_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus SEMANTIC near-dup classification (vectors with
    vec_id % 5 == 0 play the incoming ingest tick): hyperplane-LSH
    candidates where every pair contains a batch vector, exact-cosine
    verification, corpus matches outrank in-batch ones — the embedding
    twin of incremental_minhash_dups and the continuous-ingest piece
    of the ANN family. The bucket-store path (corpus banded once,
    only the batch banded fresh) is equivalence-tested in
    tests/test_dedup.py."""
    return incremental_embedding_dups(
        table(spark, "embeddings", sf_dir),
        batch_filter=F.col("vec_id") % BATCH_MOD == 0,
        threshold=COSINE_DUP_THRESHOLD,
    )


@register(
    "passage_dup_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS tk
        FROM documents
    ), win AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(tk[i + 1 : i + {PASSAGE_WIDTH}], ' '))
                   AS passage_hash
        FROM toks, unnest(generate_series(0, len(tk) - {PASSAGE_WIDTH})) AS g(i)
    ), dup AS (
        SELECT passage_hash FROM win
        GROUP BY passage_hash HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
        SELECT w.doc_id, w.pos,
               lead(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos) AS nxt
        FROM win w JOIN dup USING (passage_hash)
    )
    SELECT h.doc_id,
           count(*) AS n_dup_windows,
           CAST(sum(least({PASSAGE_WIDTH},
                          coalesce(h.nxt - h.pos, {PASSAGE_WIDTH}))) AS BIGINT)
               AS covered_tokens,
           CAST(len(t.tk) AS BIGINT) AS n_tokens
    FROM hits h JOIN toks t USING (doc_id)
    GROUP BY h.doc_id, t.tk
    """,
)
def q_passage_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE output of substring dedup: per document, how
    much of it is covered by passages duplicated elsewhere (Lee et
    al. remove those spans, not whole documents). Duplicated-window
    start positions merge into covered-token counts WITHOUT
    materializing intervals: sorted starts + lead() — each window
    contributes min(width, gap to the next start), the classic
    fixed-width interval-union identity. Same single hash shuffle as
    duplicate_passages plus one per-doc window pass."""
    docs = table(spark, "documents", sf_dir)
    wins = passage_windows(docs, width=PASSAGE_WIDTH, with_pos=True)
    dup = (
        wins.groupBy("passage_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("passage_hash")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    hits = wins.join(dup, "passage_hash").withColumn(
        "nxt", F.lead("pos").over(w)
    )
    from mpi_word_count_spark.operators.dedup import tokens_col

    sizes = docs.select(
        "doc_id", F.size(tokens_col("text")).alias("n_tokens")
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum(
                F.least(
                    F.lit(PASSAGE_WIDTH),
                    F.coalesce(
                        F.col("nxt") - F.col("pos"), F.lit(PASSAGE_WIDTH)
                    ),
                )
            )
            .cast("bigint")
            .alias("covered_tokens"),
        )
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_dup_windows",
            "covered_tokens",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


def _survivors_oracle() -> str:
    ctes, final = _minhash_parts()
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({final}),
    edges AS (
        SELECT d1 AS src, d2 AS dst FROM pairs
        UNION
        SELECT d2, d1 FROM pairs
    ),
    reach(v, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.v = e.src
    ),
    labels AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
    members AS (
        SELECT l.doc_id, l.cluster_id, length(d.text) AS len
        FROM labels l JOIN documents d ON d.doc_id = l.doc_id
    ),
    ranked AS (
        SELECT cluster_id, doc_id, len,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY len DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY cluster_id) AS n_members
        FROM members
    )
    SELECT cluster_id,
           doc_id AS survivor_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(len AS BIGINT) AS survivor_len
    FROM ranked WHERE rn = 1 AND n_members >= 2
    """


@register("cluster_survivors", oracle=_survivors_oracle())
def q_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship policy over near-dup clusters: keep the LONGEST
    member (tie-break min doc_id) of every multi-doc cluster — the
    curation decision that follows clustering (min-id canonical keeps
    an arbitrary copy; production dedup keeps the most complete /
    highest-quality one, and this is that policy as dataflow).

    Shape: components as in dedup_clusters, then ONE window pass over
    the (doc_id, cluster_id, len) members table — rank and member
    count share the cluster_id partition, so survivorship adds a
    single cluster-keyed shuffle to the clustering cost."""
    from pyspark.sql import Window

    docs = table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    members = dup_clusters(docs, pairs).join(
        docs.select("doc_id", F.length("text").alias("len")), "doc_id"
    )
    w = Window.partitionBy("cluster_id")
    ranked = members.select(
        "cluster_id",
        "doc_id",
        "len",
        F.row_number()
        .over(w.orderBy(F.desc("len"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("len").cast("bigint").alias("survivor_len"),
        )
    )


PPJOIN_THRESHOLD_PCT = 50


@register(
    "ppjoin_dups",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    shared AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, inter AS n_common,
           round(inter * 1.0 / (sa.n_shingles + sb.n_shingles - inter), 4)
               AS jaccard
    FROM shared
    JOIN sizes sa ON d1 = sa.doc_id
    JOIN sizes sb ON d2 = sb.doc_id
    WHERE 100 * inter
          >= {PPJOIN_THRESHOLD_PCT} * (sa.n_shingles + sb.n_shingles - inter)
    """,
)
def q_ppjoin_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard ≥ 0.5 pairs via PPJoin prefix
    filtering — the prefix-filtered physical twin of
    `ngram_jaccard_dups` (which explodes the FULL inverted index).
    The oracle is the NAIVE all-pairs shared-shingle join with an
    integer acceptance test — a hash match proves the prefix-filter
    candidate generation is lossless (PPJoin is an optimization, not
    an approximation; contrast minhash_lsh_dups, whose oracle must
    replicate the banding to match)."""
    from mpi_word_count_spark.operators.dedup import ppjoin_pairs

    return ppjoin_pairs(
        table(spark, "documents", sf_dir), threshold_pct=PPJOIN_THRESHOLD_PCT
    )


SNM_NEIGHBORHOOD = 8


@register(
    "sorted_neighborhood_dups",
    oracle=f"""
    WITH {{SIMHASH_CTE}},
    ranked AS (
        SELECT doc_id, simhash,
               row_number() OVER (ORDER BY simhash, doc_id) AS r
        FROM sim
    )
    SELECT least(a.doc_id, b.doc_id) AS d1,
           greatest(a.doc_id, b.doc_id) AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM ranked a JOIN ranked b
      ON b.r - a.r BETWEEN 1 AND {SNM_NEIGHBORHOOD}
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """.replace("{SIMHASH_CTE}", _simhash_cte()),
)
def q_sorted_neighborhood_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup pass over the SimHash sort
    order: hard n·w candidate bound, deterministic miss set — the
    skew-proof complement to banded blocking. The oracle replicates
    the exact global ranking, proving the two-pass distributed rank
    (bucket offsets + within-bucket row_number) equals the single
    global window."""
    from mpi_word_count_spark.operators.dedup import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        table(spark, "documents", sf_dir),
        neighborhood=SNM_NEIGHBORHOOD,
        max_hamming=SIMHASH_MAX_HAMMING,
    )


WINNOW_K = 4   # tokens per gram
WINNOW_W = 5   # grams per winnowing window


@register(
    "winnowing_dups",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(t[i + 1 : i + {WINNOW_K}], ' ')) AS h
        FROM toks, unnest(generate_series(0, len(t) - {WINNOW_K})) AS g(i)
    ),
    keyed AS (
        SELECT doc_id, pos,
               min(h || lpad(CAST(9999999999 - pos AS VARCHAR), 10, '0'))
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
                   AS k,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM grams
    ),
    sel AS (
        SELECT DISTINCT doc_id,
               9999999999 - CAST(substr(k, 33, 10) AS BIGINT) AS pos,
               substr(k, 1, 32) AS fingerprint
        FROM keyed WHERE pos <= greatest(n - {WINNOW_W}, 0)
    )
    SELECT fingerprint,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_selections
    FROM sel GROUP BY 1
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q_winnowing_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document winnowing matches: MOSS-selected fingerprints
    appearing in ≥ 2 documents. Winnowing guarantees any shared run
    of ≥ w+k−1 tokens is caught while selecting only ~2/(w+1) of all
    gram hashes — the bounded-density substring-dedup screen (compare
    duplicate_passages, which keeps EVERY window hash)."""
    from mpi_word_count_spark.operators.dedup import winnowing_fingerprints

    fp = winnowing_fingerprints(
        table(spark, "documents", sf_dir), k=WINNOW_K, w=WINNOW_W
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_selections"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "doc_novelty_scores",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    first_seen AS (
        SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((1000 * sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0
                                 END)) // count(*) AS BIGINT) AS novelty_milli
    FROM sh s JOIN first_seen f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    """,
)
def q_doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct
    3-gram shingles whose FIRST corpus occurrence (min doc_id) is
    this document — near-zero novelty marks late near-duplicates and
    boilerplate re-publications, the per-doc complement to the
    corpus-level vocab_growth curve. Integer milli-ratio, so the
    verdict is engine-exact.

    Scale shape: one shingle-keyed min aggregate (the flagship
    wordcount exchange shape), one shingle-keyed join back, one
    doc-keyed aggregate — no self-joins, no sorts.
    """
    from mpi_word_count_spark.operators.dedup import doc_shingles

    sh = doc_shingles(table(spark, "documents", sf_dir))
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("(1000 * n_novel) div n_shingles").alias("novelty_milli"),
        )
    )


CONTAINMENT_PCT = 90


@register(
    "containment_dups",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    shared AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    directed AS (
        SELECT d1 AS contained_doc, d2 AS container_doc, inter,
               sa.n_shingles AS n_contained
        FROM shared JOIN sizes sa ON d1 = sa.doc_id
        UNION ALL
        SELECT d2, d1, inter, sb.n_shingles
        FROM shared JOIN sizes sb ON d2 = sb.doc_id
    )
    SELECT contained_doc, container_doc, inter AS n_common,
           CAST((1000 * inter) // n_contained AS BIGINT) AS containment_milli
    FROM directed
    WHERE 100 * inter >= {CONTAINMENT_PCT} * n_contained
    """,
)
def q_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: ordered pairs where ≥ 90% of the
    contained document's shingles appear in the container —
    catches quotes, excerpts, and concatenated re-publications that
    symmetric Jaccard structurally misses (a short doc inside a long
    one has low Jaccard however perfect the containment). Integer
    acceptance (100·|A∩B| ≥ 90·|A|), mutual containments emit both
    directions.

    Scale shape: identical to ngram_jaccard_dups — the inverted
    shingle index self-join fans out only on shared shingles; the
    directed expansion is a projection over the already-aggregated
    pair table.
    """
    from mpi_word_count_spark.operators.dedup import _shared_shingle_pairs, doc_shingles

    sh = doc_shingles(table(spark, "documents", sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = _shared_shingle_pairs(sh)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    d1_side = shared.join(sa, F.col("d1") == F.col("sa.doc_id")).select(
        F.col("d1").alias("contained_doc"),
        F.col("d2").alias("container_doc"),
        "inter",
        F.col("sa.n_shingles").alias("n_contained"),
    )
    d2_side = shared.join(sb, F.col("d2") == F.col("sb.doc_id")).select(
        F.col("d2").alias("contained_doc"),
        F.col("d1").alias("container_doc"),
        "inter",
        F.col("sb.n_shingles").alias("n_contained"),
    )
    return (
        d1_side.unionByName(d2_side)
        .filter(100 * F.col("inter") >= CONTAINMENT_PCT * F.col("n_contained"))
        .select(
            "contained_doc",
            "container_doc",
            F.col("inter").alias("n_common"),
            F.expr("(1000 * inter) div n_contained").alias("containment_milli"),
        )
    )


def _minhash_estimate_oracle() -> str:
    matches = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    return f"""
    WITH {_minhash_base_ctes()},
    candidates AS (
        SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    ),
    est AS (
        SELECT c.d1, c.d2, CAST({matches} AS BIGINT) AS sig_matches
        FROM candidates c
        JOIN sig a ON c.d1 = a.doc_id
        JOIN sig b ON c.d2 = b.doc_id
    ),
    exact AS (
        SELECT c.d1, c.d2, count(*) AS inter
        FROM candidates c
        JOIN sh sa ON sa.doc_id = c.d1
        JOIN sh sb ON sb.doc_id = c.d2 AND sa.shingle = sb.shingle
        GROUP BY 1, 2
    )
    SELECT e.d1, e.d2, e.sig_matches,
           round(coalesce(x.inter, 0) * 1.0
                 / (za.n_shingles + zb.n_shingles - coalesce(x.inter, 0)), 4)
               AS exact_jaccard
    FROM est e
    LEFT JOIN exact x ON e.d1 = x.d1 AND e.d2 = x.d2
    JOIN sizes za ON e.d1 = za.doc_id
    JOIN sizes zb ON e.d2 = zb.doc_id
    """


@register("minhash_estimate_audit", oracle=_minhash_estimate_oracle())
def q_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the MinHash pipeline: per LSH
    candidate pair, the signature agreement count (the engine's
    Jaccard ESTIMATE is sig_matches/16) beside the exact shingle
    Jaccard — the table that justifies (or retunes) the 16-hash /
    8-band geometry on the actual corpus. sig_matches is an integer
    and exact_jaccard uses the standard rounded ratio, so the audit
    itself is value-hash-verified.

    Scale shape: candidates come from the banded equi-join (never
    all pairs); the estimate join touches 17-long signature rows and
    the exact join only candidate docs' shingles — the
    minhash_lsh_dups verification shape with one extra 16-column
    comparison. The signatures are materialized, as in
    minhash_lsh_pairs: four scans read them.
    """
    from mpi_word_count_spark.operators.dedup import (
        lsh_candidates,
        minhash_signatures,
    )
    from mpi_word_count_spark.operators import materialize

    docs = table(spark, "documents", sf_dir)
    sig = materialize(minhash_signatures(docs))
    candidates = lsh_candidates(sig)
    a, b = sig.alias("a"), sig.alias("b")
    matches = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    est = (
        candidates.join(a, F.col("d1") == F.col("a.doc_id"))
        .join(b, F.col("d2") == F.col("b.doc_id"))
        .select(
            "d1",
            "d2",
            matches.cast("bigint").alias("sig_matches"),
            F.col("a.n_shingles").alias("na"),
            F.col("b.n_shingles").alias("nb"),
        )
    )
    from mpi_word_count_spark.operators.dedup import doc_shingles

    cand_ids = candidates.select(F.col("d1").alias("doc_id")).union(
        candidates.select("d2")
    ).distinct()
    sh = doc_shingles(docs.join(F.broadcast(cand_ids), "doc_id", "left_semi"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    exact = (
        candidates.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(
            sb,
            (F.col("d2") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        est.join(exact, ["d1", "d2"], "left")
        .select(
            "d1",
            "d2",
            "sig_matches",
            F.round(
                F.coalesce(F.col("inter"), F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("inter"), F.lit(0))),
                4,
            ).alias("exact_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-method agreement audit
# ---------------------------------------------------------------------------

_AGREEMENT_METHODS = ("exact", "minhash", "ngram", "simhash")


def _agreement_pair_sqls() -> dict[str, str]:
    """Each method's dup-PAIR set as standalone SQL: the exact pairs
    inline (same-md5 self-join, d1 < d2), the near-dup methods by
    reusing the REGISTERED oracles of the corresponding queries
    verbatim — the matrix is an audit of exactly the configurations
    this engine serves, so the oracle must compose those oracles, not
    re-derive approximations of them."""
    from mpi_word_count_spark.registry import _REGISTRY

    def pairs(name: str) -> str:
        return f"SELECT DISTINCT d1, d2 FROM ({_REGISTRY[name][1]})"

    return {
        "exact": (
            "SELECT a.doc_id AS d1, b.doc_id AS d2 FROM documents a "
            "JOIN documents b ON md5(a.text) = md5(b.text) "
            "AND a.doc_id < b.doc_id"
        ),
        "minhash": pairs("minhash_lsh_dups"),
        "ngram": pairs("ngram_jaccard_dups"),
        "simhash": pairs("simhash_banded_dups"),
    }


def _agreement_oracle() -> str:
    ctes = ",\n    ".join(
        f"p_{m} AS MATERIALIZED ({sql})"
        for m, sql in _agreement_pair_sqls().items()
    )
    union = "\n        UNION ALL ".join(
        f"SELECT '{m}' AS method, d1, d2 FROM p_{m}"
        for m in _AGREEMENT_METHODS
    )
    return f"""
    WITH {ctes},
    all_pairs AS MATERIALIZED (
        {union}
    ),
    sizes AS (SELECT method, count(*) AS n FROM all_pairs GROUP BY 1)
    SELECT x.method AS method_a, y.method AS method_b,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(1000 * count(*) // (sa.n + sb.n - count(*)) AS BIGINT)
               AS agreement_milli
    FROM all_pairs x
    JOIN all_pairs y ON x.d1 = y.d1 AND x.d2 = y.d2
                     AND x.method <= y.method
    JOIN sizes sa ON sa.method = x.method
    JOIN sizes sb ON sb.method = y.method
    GROUP BY 1, 2, sa.n, sb.n
    ORDER BY 1, 2
    """


@register("dedup_method_agreement", oracle=_agreement_oracle())
def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-method agreement matrix: for every pair of served
    text-dedup methods (exact md5, MinHash-LSH, n-gram Jaccard,
    banded SimHash — the ones sharing the doc_id pair space), the
    sizes of their duplicate-pair sets, the intersection, and the
    pair-set Jaccard in integer milli — the audit that tells a
    curation owner which methods are interchangeable and which catch
    DIFFERENT duplicate classes (exact ⊆ every near-dup set; SimHash's
    Hamming≤3 band vs MinHash's 0.7-Jaccard band overlap but neither
    contains the other). Composes the REGISTERED pipelines on both
    sides: the Spark plan calls the same query functions the driver
    verifies individually, and the oracle embeds their registered SQL
    verbatim, so the matrix is certified for exactly the served
    configurations.

    Scale shape: each method's pair set is dup-pair-sized (≪ corpus);
    the matrix joins run on (d1, d2) keys over those small sets, and
    the output is |methods|² rows. Cost is dominated by running the
    member pipelines once each — exactly the nightly-audit price."""
    members = {
        "exact": _exact_pairs_df(spark, sf_dir),
        "minhash": q_minhash_lsh_dups(spark, sf_dir),
        "ngram": q_ngram_jaccard_dups(spark, sf_dir),
        "simhash": q_simhash_banded_dups(spark, sf_dir),
    }
    allp = None
    for m in _AGREEMENT_METHODS:
        part = (
            members[m]
            .select("d1", "d2")
            .distinct()
            .select(F.lit(m).alias("method"), "d1", "d2")
        )
        allp = part if allp is None else allp.unionByName(part)
    from mpi_word_count_spark.operators import materialize

    allp = materialize(allp)
    sizes = allp.groupBy("method").agg(F.count(F.lit(1)).alias("n"))
    x = allp.alias("x")
    y = allp.alias("y")
    common = (
        x.join(
            y,
            (F.col("x.d1") == F.col("y.d1"))
            & (F.col("x.d2") == F.col("y.d2"))
            & (F.col("x.method") <= F.col("y.method")),
        )
        .groupBy(
            F.col("x.method").alias("method_a"),
            F.col("y.method").alias("method_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            sizes.select(
                F.col("method").alias("method_a"), F.col("n").alias("n_a")
            ),
            "method_a",
        )
        .join(
            sizes.select(
                F.col("method").alias("method_b"), F.col("n").alias("n_b")
            ),
            "method_b",
        )
        .select(
            "method_a",
            "method_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr("1000 * n_common div (n_a + n_b - n_common)")
            .cast("bigint")
            .alias("agreement_milli"),
        )
        .orderBy("method_a", "method_b")
    )


def _exact_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate doc pairs (same md5, d1 < d2) — the pair-space
    form of exact_dedup's cluster output, for the agreement matrix."""
    docs = table(spark, "documents", sf_dir).select(
        "doc_id", F.md5("text").alias("h")
    )
    a = docs.select(F.col("doc_id").alias("d1"), "h")
    b = docs.select(F.col("doc_id").alias("d2"), "h")
    return a.join(b, "h").filter(F.col("d1") < F.col("d2")).select("d1", "d2")


@register(
    "cdc_chunk_dups",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    posd AS (
        SELECT doc_id, t[i] AS tok, i AS pos
        FROM toks, unnest(range(1, len(t) + 1)) g(i)
    ),
    bd AS (
        SELECT doc_id, tok, pos,
               CASE WHEN {sql_hash32("tok", "cdc")} % 16 = 0
                    THEN 1 ELSE 0 END AS b
        FROM posd
    ),
    ck AS (
        SELECT doc_id, tok, pos,
               sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
        FROM bd
    ),
    chunks AS (
        SELECT doc_id, chunk, count(*) AS n_tokens,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
        FROM ck GROUP BY 1, 2
    )
    SELECT chunk_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occurrences,
           min(n_tokens) AS chunk_tokens
    FROM chunks
    GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q_cdc_chunk_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate CONTENT-DEFINED chunks: partition
    every document into CDC chunks (operators/dedup.cdc_chunks,
    expected 16 tokens per chunk) and report chunks occurring in ≥ 2
    documents. Because boundaries are content-defined, a copied
    region is found even when its position shifts between documents —
    the insertion-robust complement to duplicate_passages (every
    window, position-free but 20× volume) and winnowing_dups
    (sampled fingerprints with a density guarantee)."""
    from mpi_word_count_spark.operators.dedup import cdc_chunks

    ch = cdc_chunks(table(spark, "documents", sf_dir))
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("n_tokens").alias("chunk_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
    )
