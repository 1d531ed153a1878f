"""BPE tokenizer-training queries: merge-table learning and subword
token counting (operators/bpe.py).

Oracle technique: BPE is iterative (merge k+1 depends on merge k), so
the DuckDB oracle unrolls the training recurrence one CTE block per
round — the same unrolled-recurrence verification the PageRank
(queries/graph_queries.py) and k-means/PQ oracles use. The oracle
derives the merges ITSELF from the corpus (no values smuggled from
the Spark side): per round it counts adjacent pairs over the current
symbol tables, picks the argmax under the (count DESC, left ASC,
right ASC) tie-break, and applies the greedy merge with a positional
window formulation:

  occurrences of (L, R) can only overlap when L == R (an occurrence
  at pos i+1 needs sym[i+1] = L, but an occurrence at i forces
  sym[i+1] = R); greedy left-to-right therefore means: group
  consecutive occurrence positions into chains (gaps-and-islands) and
  keep every odd-ranked occurrence within its chain.

All outputs are integers/strings — no floats anywhere — so the
value-hash match is exact by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.operators import materialize
from mpi_word_count_spark.operators.bpe import (
    DEFAULT_MERGES,
    DEFAULT_VOCAB_TYPES,
    ALNUM_WORD,
    encode_col,
    top_vocab,
    train_bpe,
    word_freqs,
)
from mpi_word_count_spark.registry import register, sql_regex
from mpi_word_count_spark.tables import table
from mpi_word_count_spark.tokenizer import tokenize

MERGE_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, "
    "merged string, pair_count bigint"
)


def _base_ctes(n_types: int) -> str:
    """Corpus word-type table + training vocab + initial symbol table
    (one row per (word, char position))."""
    return f"""
    toks AS MATERIALIZED (
        SELECT unnest(regexp_split_to_array(lower(text), '{sql_regex()}')) AS w
        FROM documents
    ),
    freqs AS MATERIALIZED (
        SELECT w AS word, count(*) AS freq
        FROM toks
        WHERE w <> '' AND regexp_full_match(w, '[a-z0-9]+')
        GROUP BY 1
    ),
    vocab AS MATERIALIZED (SELECT word FROM freqs ORDER BY freq DESC, word LIMIT {n_types}),
    chars AS MATERIALIZED (
        SELECT word, freq, regexp_extract_all(word, '.') AS a FROM freqs
    ),
    s0 AS MATERIALIZED (
        SELECT word, freq,
               unnest(generate_series(1, len(a))) AS pos,
               unnest(a) AS sym
        FROM chars
    )"""


def _round_ctes(k: int) -> str:
    """One training round: pair counts (vocab words only) -> argmax
    pair -> positional greedy merge applied to ALL word types (so the
    final symbol tables also encode out-of-vocab words, which is what
    BPE encoding does at inference time)."""
    p = k - 1
    return f"""
    pc{k} AS MATERIALIZED (
        SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
            SELECT t.freq, t.sym AS l,
                   lead(t.sym) OVER (PARTITION BY t.word ORDER BY t.pos) AS r
            FROM s{p} t
            JOIN vocab v ON v.word = t.word
        ) q WHERE r IS NOT NULL GROUP BY 1, 2
    ),
    best{k} AS MATERIALIZED (
        SELECT l AS bl, r AS br, l || r AS bm, cnt
        FROM pc{k} ORDER BY cnt DESC, l, r LIMIT 1
    ),
    mk{k} AS MATERIALIZED (
        SELECT word, freq, pos, sym,
               CASE WHEN sym = (SELECT bl FROM best{k})
                     AND lead(sym) OVER (PARTITION BY word ORDER BY pos)
                         = (SELECT br FROM best{k})
                    THEN 1 ELSE 0 END AS is_occ
        FROM s{p}
    ),
    oc{k} AS MATERIALIZED (
        SELECT word, pos,
               pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
        FROM mk{k} WHERE is_occ = 1
    ),
    kp{k} AS MATERIALIZED (
        SELECT word, pos FROM (
            SELECT word, pos,
                   row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
            FROM oc{k}) t
        WHERE rn % 2 = 1
    ),
    s{k} AS MATERIALIZED (
        SELECT mm.word, mm.freq,
               row_number() OVER (PARTITION BY mm.word ORDER BY mm.pos) AS pos,
               CASE WHEN kk.pos IS NOT NULL THEN (SELECT bm FROM best{k})
                    ELSE mm.sym END AS sym
        FROM mk{k} mm
        LEFT JOIN kp{k} kk ON kk.word = mm.word AND kk.pos = mm.pos
        LEFT JOIN kp{k} kd ON kd.word = mm.word AND kd.pos = mm.pos - 1
        WHERE kd.pos IS NULL
    )"""


def _chain(rounds: int, n_types: int) -> str:
    return _base_ctes(n_types) + "," + ",".join(
        _round_ctes(k) for k in range(1, rounds + 1)
    )


def _merges_oracle(
    rounds: int = DEFAULT_MERGES, n_types: int = DEFAULT_VOCAB_TYPES
) -> str:
    unions = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, bl AS left_sym, br AS right_sym, "
        f"bm AS merged, cnt AS pair_count FROM best{k}"
        for k in range(1, rounds + 1)
    )
    return f"""
    WITH {_chain(rounds, n_types)}
    SELECT * FROM ({unions}) ORDER BY merge_rank
    """


def _token_counts_oracle(
    rounds: int = DEFAULT_MERGES, n_types: int = DEFAULT_VOCAB_TYPES
) -> str:
    return f"""
    WITH {_chain(rounds, n_types)},
    wsz AS MATERIALIZED (SELECT word, count(*) AS n_sub FROM s{rounds} GROUP BY 1),
    dtok AS MATERIALIZED (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '{sql_regex()}')) AS w
        FROM documents
    ),
    dw AS MATERIALIZED (
        SELECT doc_id, w AS word, count(*) AS cnt
        FROM dtok
        WHERE w <> '' AND regexp_full_match(w, '[a-z0-9]+')
        GROUP BY 1, 2
    )
    SELECT dw.doc_id,
           CAST(sum(dw.cnt) AS BIGINT) AS n_words,
           CAST(sum(dw.cnt * ws.n_sub) AS BIGINT) AS n_subwords
    FROM dw JOIN wsz ws ON ws.word = dw.word
    GROUP BY 1
    """


@register("bpe_merges", oracle=_merges_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 16-merge BPE table on the documents corpus.

    Shape at 100 TB: the corpus contributes ONE word-count shuffle
    (the flagship aggregation); the sequential merge loop runs
    driver-side over the bounded top-2000 word-type slice — model
    training on cluster-computed sufficient statistics, the
    HF-tokenizers design (operators/bpe.py docstring)."""
    docs = table(spark, "documents", sf_dir)
    merges = train_bpe(top_vocab(word_freqs(docs)))
    rows = [
        (i + 1, left, right, merged, cnt)
        for i, (left, right, merged, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(rows, MERGE_SCHEMA).orderBy("merge_rank")


@register("bpe_token_counts", oracle=_token_counts_oracle())
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword token counts under the learned BPE table —
    the LLM-relevant "how many tokens is this document" statistic
    (whitespace token counting is token_stats; this is the
    tokenizer-aware version).

    Plan: tokenize ONCE into (doc_id, word, cnt) [materialized — vocab
    collect and the final join both read it], derive the word-type
    table by re-aggregation (never a second corpus scan), encode each
    word TYPE once via the literal-merge folds, then broadcast-join
    sizes back to the per-doc table. Encoding work is O(|word types|),
    not O(corpus); the per-doc rollup reuses the dw shuffle's
    partitioning key prefix."""
    docs = table(spark, "documents", sf_dir)
    tok = tokenize(docs, col="text", keep=["doc_id"])
    dw = materialize(
        tok.filter(F.col("word").rlike(ALNUM_WORD))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    freqs = dw.groupBy("word").agg(F.sum("cnt").alias("freq"))
    merges = train_bpe(top_vocab(freqs))
    wsz = freqs.select(
        "word", F.size(encode_col("word", merges)).alias("n_sub")
    )
    return (
        dw.join(F.broadcast(wsz), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_subwords"),
        )
    )


def _fertility_oracle(
    rounds: int = DEFAULT_MERGES, n_types: int = DEFAULT_VOCAB_TYPES
) -> str:
    from mpi_word_count_spark.functions.parity import sql_portable_round

    return f"""
    WITH {_chain(rounds, n_types)},
    wsz AS MATERIALIZED (SELECT word, count(*) AS n_sub FROM s{rounds} GROUP BY 1),
    dtok AS MATERIALIZED (
        SELECT d.lang,
               unnest(regexp_split_to_array(lower(d.text), '{sql_regex()}')) AS w
        FROM documents d
    ),
    dw AS MATERIALIZED (
        SELECT lang, w AS word, count(*) AS cnt
        FROM dtok
        WHERE w <> '' AND regexp_full_match(w, '[a-z0-9]+')
        GROUP BY 1, 2
    )
    SELECT dw.lang,
           CAST(sum(dw.cnt) AS BIGINT) AS n_words,
           CAST(sum(dw.cnt * ws.n_sub) AS BIGINT) AS n_subwords,
           {sql_portable_round('sum(dw.cnt * ws.n_sub) / sum(dw.cnt)', 4)}
               AS fertility
    FROM dw JOIN wsz ws ON ws.word = dw.word
    GROUP BY 1
    """


@register("bpe_fertility_by_lang", oracle=_fertility_oracle())
def q_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subwords per word) by language — THE
    tokenizer-evaluation metric: a vocabulary trained mostly on one
    language over-fragments the others, and this rollup is how that
    bias is measured (and how vocab size / corpus mixing decisions
    get made). Same machinery as bpe_token_counts, rolled up on the
    language column instead of the document."""
    from mpi_word_count_spark.functions.parity import portable_round

    docs = table(spark, "documents", sf_dir)
    tok = tokenize(docs, col="text", keep=["lang"])
    dw = materialize(
        tok.filter(F.col("word").rlike(ALNUM_WORD))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    freqs = dw.groupBy("word").agg(F.sum("cnt").alias("freq"))
    merges = train_bpe(top_vocab(freqs))
    wsz = freqs.select("word", F.size(encode_col("word", merges)).alias("n_sub"))
    return (
        dw.join(F.broadcast(wsz), "word")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_subwords"),
            portable_round(
                F.sum(F.col("cnt") * F.col("n_sub")) / F.sum("cnt"), 4
            ).alias("fertility"),
        )
    )


# --- byte-level BPE (GPT-2 / tiktoken form) ----------------------------------

from mpi_word_count_spark.operators.bpe import (  # noqa: E402
    byte_encode_col,
    byte_remap_sql_array,
    byte_symbols,
)


def _byte_base_ctes(n_types: int) -> str:
    """Byte-level initial symbol tables: words are NOT restricted to
    the alnum class (byte BPE has no unknown tokens by construction —
    every byte has a base symbol); s0 symbols come from the word's
    UTF-8 bytes through the GPT-2 remap, derived in SQL from
    hex(encode(word)) exactly as byte_symbols_col does in Spark."""
    remap = byte_remap_sql_array("duckdb")
    return f"""
    toks AS MATERIALIZED (
        SELECT unnest(regexp_split_to_array(lower(text), '{sql_regex()}')) AS w
        FROM documents
    ),
    freqs AS MATERIALIZED (
        SELECT w AS word, count(*) AS freq FROM toks WHERE w <> '' GROUP BY 1
    ),
    vocab AS MATERIALIZED (
        SELECT word FROM freqs ORDER BY freq DESC, word LIMIT {n_types}
    ),
    hx AS MATERIALIZED (
        SELECT word, freq, regexp_extract_all(hex(encode(word)), '..') AS a
        FROM freqs
    ),
    sraw AS MATERIALIZED (
        SELECT word, freq,
               unnest(generate_series(1, len(a))) AS pos,
               unnest(a) AS h
        FROM hx
    ),
    s0 AS MATERIALIZED (
        SELECT word, freq, pos,
               list_extract({remap},
                   (strpos('0123456789ABCDEF', h[1]) - 1) * 16
                   + strpos('0123456789ABCDEF', h[2])) AS sym
        FROM sraw
    )"""


def _byte_chain(rounds: int, n_types: int) -> str:
    # the per-round merge CTEs are symbol-agnostic — reuse the char
    # form's positional greedy formulation verbatim over the byte s0
    return _byte_base_ctes(n_types) + "," + ",".join(
        _round_ctes(k) for k in range(1, rounds + 1)
    )


def _byte_merges_oracle(
    rounds: int = DEFAULT_MERGES, n_types: int = DEFAULT_VOCAB_TYPES
) -> str:
    unions = "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, bl AS left_sym, br AS right_sym, "
        f"bm AS merged, cnt AS pair_count FROM best{k}"
        for k in range(1, rounds + 1)
    )
    return f"""
    WITH {_byte_chain(rounds, n_types)}
    SELECT * FROM ({unions}) ORDER BY merge_rank
    """


def _byte_token_counts_oracle(
    rounds: int = DEFAULT_MERGES, n_types: int = DEFAULT_VOCAB_TYPES
) -> str:
    return f"""
    WITH {_byte_chain(rounds, n_types)},
    wsz AS MATERIALIZED (
        SELECT word, count(*) AS n_sub FROM s{rounds} GROUP BY 1
    ),
    dtok AS MATERIALIZED (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '{sql_regex()}')) AS w
        FROM documents
    ),
    dw AS MATERIALIZED (
        SELECT doc_id, w AS word, count(*) AS cnt
        FROM dtok WHERE w <> '' GROUP BY 1, 2
    )
    SELECT dw.doc_id,
           CAST(sum(dw.cnt) AS BIGINT) AS n_words,
           CAST(sum(dw.cnt * ws.n_sub) AS BIGINT) AS n_subwords,
           CAST(sum(dw.cnt * strlen(dw.word)) AS BIGINT) AS n_bytes
    FROM dw JOIN wsz ws ON ws.word = dw.word
    GROUP BY 1
    """


@register("byte_bpe_merges", oracle=_byte_merges_oracle())
def q_byte_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 16-merge BYTE-level BPE table (the GPT-2/tiktoken
    form) on the documents corpus: symbols are GPT-2-remapped UTF-8
    bytes, the word table is unrestricted (no unknown tokens by
    construction), and the merge loop/tie-breaks are the char form's.
    Same 100 TB shape as bpe_merges: one word-count shuffle, then a
    driver-side loop over the bounded top-2000 type slice."""
    docs = table(spark, "documents", sf_dir)
    toks = tokenize(docs, col="text")
    freqs = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    merges = train_bpe(top_vocab(freqs), split=byte_symbols)
    rows = [
        (i + 1, left, right, merged, cnt)
        for i, (left, right, merged, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(rows, MERGE_SCHEMA).orderBy("merge_rank")


@register("byte_bpe_token_counts", oracle=_byte_token_counts_oracle())
def q_byte_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the learned BYTE-level BPE
    table, plus the byte length the GPT-2 bytes/token compression
    ratio is quoted against. Identical plan shape to bpe_token_counts:
    ONE tokenize into (doc_id, word, cnt) [materialized], word types by
    re-aggregation, each TYPE encoded once via the literal-merge
    folds over the byte split, sizes broadcast back."""
    docs = table(spark, "documents", sf_dir)
    tok = tokenize(docs, col="text", keep=["doc_id"])
    dw = materialize(
        tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    )
    freqs = dw.groupBy("word").agg(F.sum("cnt").alias("freq"))
    merges = train_bpe(top_vocab(freqs), split=byte_symbols)
    wsz = freqs.select(
        "word", F.size(byte_encode_col("word", merges)).alias("n_sub")
    )
    return (
        dw.join(F.broadcast(wsz), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_subwords"),
            F.sum(F.col("cnt") * F.octet_length("word")).alias("n_bytes"),
        )
    )


# --- unigram-LM segmentation (sentencepiece counterpart) --------------------

from mpi_word_count_spark.operators.bpe import (  # noqa: E402
    UNIGRAM_K_MULTI,
    UNIGRAM_MAX_PIECE,
    unigram_segment_stats,
)

_UNIGRAM_ORACLE = f"""
    WITH RECURSIVE words AS (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(regexp_split_to_array(lower(text),
                          '{{REGEX}}')) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z0-9]+$')
        GROUP BY 1
    ),
    pieces_all AS (
        SELECT substr(word, CAST(s.s AS INT), CAST(l.l AS INT)) AS piece,
               sum(freq) AS pfreq
        FROM words,
             (SELECT unnest(range(1, {UNIGRAM_MAX_PIECE} + 1)) AS l) l,
             LATERAL (SELECT unnest(range(1, length(word) - l.l + 2)) AS s) s
        GROUP BY 1
    ),
    vocab0 AS (
        SELECT piece, pfreq FROM pieces_all WHERE length(piece) = 1
        UNION ALL
        SELECT piece, pfreq FROM (
            SELECT piece, pfreq FROM pieces_all WHERE length(piece) >= 2
            ORDER BY pfreq DESC, piece ASC LIMIT {UNIGRAM_K_MULTI}
        )
    ),
    vocab AS (
        SELECT piece,
               CAST(length(bin(CAST(t.total AS BIGINT)))
                  - length(bin(CAST(pfreq AS BIGINT))) + 1 AS BIGINT) AS cost
        FROM vocab0, (SELECT sum(pfreq) AS total FROM vocab0) t
    ),
    edges AS (
        SELECT w.word, CAST(s.s - 1 AS INT) AS j,
               CAST(s.s - 1 + l.l AS INT) AS i, v.cost
        FROM words w,
             (SELECT unnest(range(1, {UNIGRAM_MAX_PIECE} + 1)) AS l) l,
             LATERAL (SELECT unnest(range(1, length(w.word) - l.l + 2)) AS s) s,
             vocab v
        WHERE substr(w.word, CAST(s.s AS INT), CAST(l.l AS INT)) = v.piece
    ),
    paths AS (
        SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS pieces
        FROM words
        UNION ALL
        SELECT e.word, e.i, p.cost + e.cost, p.pieces + 1
        FROM paths p JOIN edges e ON e.word = p.word AND e.j = p.pos
    ),
    finals AS (
        SELECT p.word, p.cost, p.pieces
        FROM paths p WHERE p.pos = length(p.word)
    ),
    best AS (SELECT word, min(cost) AS min_cost FROM finals GROUP BY 1)
    SELECT w.word, w.freq,
           CAST(length(w.word) AS INT) AS n_chars,
           b.min_cost,
           CAST(min(f.pieces) AS BIGINT) AS min_pieces
    FROM words w
    JOIN best b USING (word)
    JOIN finals f ON f.word = w.word AND f.cost = b.min_cost
    GROUP BY 1, 2, 3, 4
""".replace("{REGEX}", sql_regex())


@register("unigram_segment_stats", oracle=_UNIGRAM_ORACLE)
def q_unigram_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM subword segmentation (Kudo 2018, the sentencepiece
    counterpart to BPE above): pieces scored by corpus frequency with
    an integer bit-length cost (cost = bitlen(total) - bitlen(freq)
    + 1, the cross-engine-exact surrogate of -log2 P), each word type
    segmented by a (cost, pieces)-lexicographic DP. The oracle
    re-derives the vocabulary in SQL and ENUMERATES every
    segmentation with a recursive CTE — the hash match proves the
    distributed DP equals the global path minimum. Corpus-sized work
    is two shuffles (word count, piece count); the DP runs over the
    Zipf-bounded word-TYPE table with the model-sized vocab broadcast
    (operators/bpe.py: the same bounded-driver-model pattern as BPE
    training and the PQ/IVF quantizers)."""
    return unigram_segment_stats(table(spark, "documents", sf_dir))


# --- unigram-LM EM refinement (sentencepiece training loop) -----------------

from mpi_word_count_spark.operators.bpe import (  # noqa: E402
    UNIGRAM_EM_ROUNDS,
    unigram_em_vocab,
)


def _em_base_ctes() -> str:
    """Word types + candidate pieces + the frequency-initialized vocab
    v0 (identical derivation to _UNIGRAM_ORACLE's vocab CTE)."""
    return f"""
    words AS MATERIALIZED (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(regexp_split_to_array(lower(text),
                          '{sql_regex()}')) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z0-9]+$')
        GROUP BY 1
    ),
    pieces_all AS MATERIALIZED (
        SELECT substr(word, CAST(s.s AS INT), CAST(l.l AS INT)) AS piece,
               sum(freq) AS pfreq
        FROM words,
             (SELECT unnest(range(1, {UNIGRAM_MAX_PIECE} + 1)) AS l) l,
             LATERAL (SELECT unnest(range(1, length(word) - l.l + 2)) AS s) s
        GROUP BY 1
    ),
    vocab0 AS MATERIALIZED (
        SELECT piece, pfreq FROM pieces_all WHERE length(piece) = 1
        UNION ALL
        SELECT piece, pfreq FROM (
            SELECT piece, pfreq FROM pieces_all WHERE length(piece) >= 2
            ORDER BY pfreq DESC, piece ASC LIMIT {UNIGRAM_K_MULTI}
        )
    ),
    v0 AS MATERIALIZED (
        SELECT piece,
               CAST(length(bin(CAST(t.total AS BIGINT)))
                  - length(bin(CAST(pfreq AS BIGINT))) + 1 AS BIGINT) AS cost
        FROM vocab0, (SELECT sum(pfreq) AS total FROM vocab0) t
    )"""


def _em_round_ctes(k: int) -> str:
    """One EM round under costs v{k-1}: enumerate every segmentation
    of every word (recursive CTE), pick the unique winner by the DP's
    (cost, pieces, seg) tie-break, count piece usage weighted by word
    freq, and re-score: used pieces get bitlen(total)-bitlen(use)+1,
    unused single chars the bitlen(total)+1 floor, unused multi-char
    pieces are pruned — exactly operators/bpe.unigram_em_vocab's
    M-step."""
    p = k - 1
    return f"""
    edges{k} AS MATERIALIZED (
        SELECT w.word, CAST(s.s - 1 AS INT) AS j,
               CAST(s.s - 1 + l.l AS INT) AS i, v.piece, v.cost
        FROM words w,
             (SELECT unnest(range(1, {UNIGRAM_MAX_PIECE} + 1)) AS l) l,
             LATERAL (SELECT unnest(range(1, length(w.word) - l.l + 2)) AS s) s,
             v{p} v
        WHERE substr(w.word, CAST(s.s AS INT), CAST(l.l AS INT)) = v.piece
    ),
    paths{k} AS (
        SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS pieces,
               '' AS seg
        FROM words
        UNION ALL
        SELECT e.word, e.i, p.cost + e.cost, p.pieces + 1,
               CASE WHEN p.seg = '' THEN e.piece
                    ELSE p.seg || ',' || e.piece END
        FROM paths{k} p JOIN edges{k} e ON e.word = p.word AND e.j = p.pos
    ),
    win{k} AS MATERIALIZED (
        SELECT word, seg FROM (
            SELECT word, seg,
                   row_number() OVER (PARTITION BY word
                                      ORDER BY cost, pieces, seg) AS rn
            FROM paths{k} WHERE pos = length(word)
        ) q WHERE rn = 1
    ),
    use{k} AS MATERIALIZED (
        SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
            SELECT w.freq, unnest(string_split(n.seg, ',')) AS piece
            FROM win{k} n JOIN words w USING (word)
        ) q GROUP BY 1
    ),
    v{k} AS MATERIALIZED (
        SELECT prev.piece,
               CASE WHEN u.cnt IS NOT NULL
                    THEN CAST(length(bin(CAST(t.total AS BIGINT)))
                            - length(bin(CAST(u.cnt AS BIGINT))) + 1 AS BIGINT)
                    ELSE CAST(length(bin(CAST(t.total AS BIGINT))) + 1 AS BIGINT)
               END AS cost
        FROM v{p} prev
        LEFT JOIN use{k} u USING (piece),
             (SELECT sum(cnt) AS total FROM use{k}) t
        WHERE u.cnt IS NOT NULL OR length(prev.piece) = 1
    )"""


def _em_vocab_oracle(rounds: int = UNIGRAM_EM_ROUNDS) -> str:
    chain = _em_base_ctes() + "," + ",".join(
        _em_round_ctes(k) for k in range(1, rounds + 1)
    )
    return f"""
    WITH RECURSIVE {chain}
    SELECT v.piece,
           CAST(length(v.piece) AS INT) AS n_chars,
           CAST(coalesce(u.cnt, 0) AS BIGINT) AS em_use,
           v.cost AS em_cost
    FROM v{rounds} v LEFT JOIN use{rounds} u USING (piece)
    ORDER BY v.piece
    """


@register("unigram_em_vocab", oracle=_em_vocab_oracle())
def q_unigram_em_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM vocabulary trained with hard (Viterbi) EM — the
    refinement loop sentencepiece runs after the frequency
    initialization unigram_segment_stats uses (VERDICT r7 item 4).
    Per round: E-step segments every word TYPE under the current
    integer costs (the (cost, pieces, seg)-lexicographic DP makes the
    winning path unique, so usage counts are deterministic on both
    engines), M-step re-scores pieces from usage and prunes unused
    multi-char pieces. The oracle unrolls one CTE block per round —
    the same unrolled-recurrence verification as bpe_merges and the
    k-means/PQ oracles — ENUMERATING every segmentation per round, so
    the hash match proves each E-step's Viterbi path globally optimal
    and each M-step's integer re-scoring exact.

    100 TB shape: per round one Arrow DP pass over the Zipf-bounded
    word-type table + one vocab-sized shuffle; the EM state is a
    model-sized dict on the driver (the BPE-merge-loop pattern); the
    corpus is touched only by the initial word count."""
    return unigram_em_vocab(table(spark, "documents", sf_dir))


def _em_segment_oracle(rounds: int = UNIGRAM_EM_ROUNDS) -> str:
    """Enumeration proof of tokenize-under-the-EM-vocab: the EM CTE
    chain (each round verified as in _em_vocab_oracle), then one more
    edges/paths enumeration under v{rounds} with the min aggregation
    of _UNIGRAM_ORACLE."""
    chain = _em_base_ctes() + "," + ",".join(
        _em_round_ctes(k) for k in range(1, rounds + 1)
    )
    return f"""
    WITH RECURSIVE {chain},
    edgesF AS MATERIALIZED (
        SELECT w.word, CAST(s.s - 1 AS INT) AS j,
               CAST(s.s - 1 + l.l AS INT) AS i, v.cost
        FROM words w,
             (SELECT unnest(range(1, {UNIGRAM_MAX_PIECE} + 1)) AS l) l,
             LATERAL (SELECT unnest(range(1, length(w.word) - l.l + 2)) AS s) s,
             v{rounds} v
        WHERE substr(w.word, CAST(s.s AS INT), CAST(l.l AS INT)) = v.piece
    ),
    pathsF AS (
        SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS pieces
        FROM words
        UNION ALL
        SELECT e.word, e.i, p.cost + e.cost, p.pieces + 1
        FROM pathsF p JOIN edgesF e ON e.word = p.word AND e.j = p.pos
    ),
    finalsF AS (
        SELECT word, cost, pieces FROM pathsF WHERE pos = length(word)
    ),
    bestF AS (SELECT word, min(cost) AS min_cost FROM finalsF GROUP BY 1)
    SELECT w.word, w.freq,
           CAST(length(w.word) AS INT) AS n_chars,
           b.min_cost,
           CAST(min(f.pieces) AS BIGINT) AS min_pieces
    FROM words w
    JOIN bestF b USING (word)
    JOIN finalsF f ON f.word = w.word AND f.cost = b.min_cost
    GROUP BY 1, 2, 3, 4
    """


@register("unigram_em_segment_stats", oracle=_em_segment_oracle())
def q_unigram_em_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE half of the sentencepiece pipeline under the
    EM-trained model: train the unigram-LM vocabulary with hard EM
    (unigram_em_vocab's loop), then segment every word type under the
    final integer costs. The oracle re-derives the full EM chain
    (each round's E-step enumerated, M-step recomputed) and then
    ENUMERATES every segmentation under the final vocabulary, so the
    hash match proves train-then-tokenize end to end. Same 100 TB
    shape as unigram_em_vocab plus one more Zipf-bounded type-table
    DP pass."""
    from mpi_word_count_spark.operators.bpe import unigram_em_segment_stats

    return unigram_em_segment_stats(table(spark, "documents", sf_dir))


# --- subword regularization: n-best + sampled segmentation ------------------

from mpi_word_count_spark.functions.hashing import sql_hash32  # noqa: E402
from mpi_word_count_spark.operators.bpe import (  # noqa: E402
    UNIGRAM_NBEST_K,
    unigram_nbest_segments,
    unigram_sampled_segments,
)


def _nbest_ranked_cte() -> str:
    """Every segmentation of every word under the frequency-
    initialized vocab v0 (the _em_base_ctes derivation), carrying the
    comma-joined seg string, ranked per word by the DP's
    (cost, pieces, seg) order — the enumeration that proves the
    k-best DP's output IS the global top-k."""
    return _em_base_ctes() + f""",
    edgesN AS MATERIALIZED (
        SELECT w.word, CAST(s.s - 1 AS INT) AS j,
               CAST(s.s - 1 + l.l AS INT) AS i, v.piece, v.cost
        FROM words w,
             (SELECT unnest(range(1, {UNIGRAM_MAX_PIECE} + 1)) AS l) l,
             LATERAL (SELECT unnest(range(1, length(w.word) - l.l + 2)) AS s) s,
             v0 v
        WHERE substr(w.word, CAST(s.s AS INT), CAST(l.l AS INT)) = v.piece
    ),
    pathsN AS (
        SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS pieces,
               '' AS seg
        FROM words
        UNION ALL
        SELECT e.word, e.i, p.cost + e.cost, p.pieces + 1,
               CASE WHEN p.seg = '' THEN e.piece
                    ELSE p.seg || ',' || e.piece END
        FROM pathsN p JOIN edgesN e ON e.word = p.word AND e.j = p.pos
    ),
    rankedN AS MATERIALIZED (
        SELECT word, cost, pieces, seg,
               row_number() OVER (PARTITION BY word
                                  ORDER BY cost, pieces, seg) AS rnk
        FROM pathsN WHERE pos = length(word)
    )"""


@register(
    "unigram_nbest_segments",
    oracle=f"""
    WITH RECURSIVE {_nbest_ranked_cte()}
    SELECT w.word, w.freq, CAST(r.rnk AS INT) AS nb_rank, r.cost,
           CAST(r.pieces AS BIGINT) AS pieces, r.seg
    FROM words w JOIN rankedN r USING (word)
    WHERE r.rnk <= {UNIGRAM_NBEST_K}
    """,
)
def q_unigram_nbest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword regularization, enumeration half (Kudo 2018 §3.1;
    sentencepiece `nbest_size`): the n best segmentations per word
    type under the unigram-LM integer costs, ranked by the same
    (cost, pieces, seg) lexicographic order the 1-best DP uses. The
    k-best DP keeps k candidates per char position (k-shortest-paths
    in the segmentation DAG — lossless because the ordering is
    additive/concat-monotone); the oracle ENUMERATES every
    segmentation with the seg-carrying recursive CTE and ranks with a
    window, so the hash match proves the distributed k-best DP equals
    the global top-k. Corpus-sized work is unchanged from
    unigram_segment_stats (word-count + piece-count shuffles); the DP
    runs in the same Arrow kernel over the Zipf-bounded type table."""
    return unigram_nbest_segments(table(spark, "documents", sf_dir))


@register(
    "unigram_sampled_segments",
    oracle=f"""
    WITH RECURSIVE {_nbest_ranked_cte()},
    topk AS (SELECT * FROM rankedN WHERE rnk <= {UNIGRAM_NBEST_K}),
    nb AS (SELECT word, CAST(count(*) AS INT) AS n_best FROM topk GROUP BY 1)
    SELECT w.word, w.freq, nb.n_best,
           CAST(r.rnk AS INT) AS pick, r.cost,
           CAST(r.pieces AS BIGINT) AS pieces, r.seg
    FROM words w
    JOIN nb USING (word)
    JOIN topk r ON r.word = w.word
               AND r.rnk = 1 + ({sql_hash32("w.word", "useg")} % nb.n_best)
    """,
)
def q_unigram_sampled_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword regularization, sampling half: one segmentation per
    word type drawn uniformly from its n-best list — sentencepiece's
    `SampleEncode(nbest_size=k)` in the α→0 limit where P(seg)^α
    flattens to uniform. The draw is the deterministic md5-uniform
    (hash32(word, 'useg') mod n_best), bit-reproducible across
    engines/partitionings/retries — the dsir_gumbel_sample contract.
    The oracle enumerates + ranks all segmentations and applies the
    identical arithmetic, so the hash match proves both the n-best
    list and the draw."""
    return unigram_sampled_segments(table(spark, "documents", sf_dir))


# --- WordPiece (greedy longest-match) ----------------------------------------

from mpi_word_count_spark.operators.bpe import (  # noqa: E402
    wordpiece_segment_stats,
)

# Same words/pieces_all/vocab0 derivation as _UNIGRAM_ORACLE (the triad
# shares one vocabulary); then the greedy edge at each position is the
# LONGEST vocab match (row_number by length DESC), and the recursion
# follows the unique greedy edge — linear, one row per (word, step).
_WORDPIECE_ORACLE = f"""
    WITH RECURSIVE words AS (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(regexp_split_to_array(lower(text),
                          '{{REGEX}}')) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z0-9]+$')
        GROUP BY 1
    ),
    pieces_all AS (
        SELECT substr(word, CAST(s.s AS INT), CAST(l.l AS INT)) AS piece,
               sum(freq) AS pfreq
        FROM words,
             (SELECT unnest(range(1, {UNIGRAM_MAX_PIECE} + 1)) AS l) l,
             LATERAL (SELECT unnest(range(1, length(word) - l.l + 2)) AS s) s
        GROUP BY 1
    ),
    vocab0 AS (
        SELECT piece, pfreq FROM pieces_all WHERE length(piece) = 1
        UNION ALL
        SELECT piece, pfreq FROM (
            SELECT piece, pfreq FROM pieces_all WHERE length(piece) >= 2
            ORDER BY pfreq DESC, piece ASC LIMIT {UNIGRAM_K_MULTI}
        )
    ),
    greedy AS MATERIALIZED (
        SELECT word, j, piece, l FROM (
            SELECT w.word, CAST(s.s - 1 AS INT) AS j,
                   substr(w.word, CAST(s.s AS INT), CAST(l.l AS INT)) AS piece,
                   CAST(l.l AS INT) AS l,
                   row_number() OVER (
                       PARTITION BY w.word, s.s ORDER BY l.l DESC) AS rn
            FROM words w,
                 (SELECT unnest(range(1, {UNIGRAM_MAX_PIECE} + 1)) AS l) l,
                 LATERAL (SELECT unnest(range(1, length(w.word) - l.l + 2))
                          AS s) s,
                 vocab0 v
            WHERE substr(w.word, CAST(s.s AS INT), CAST(l.l AS INT)) = v.piece
        ) q WHERE rn = 1
    ),
    paths AS (
        SELECT word, 0 AS pos, 0 AS np, '' AS seg FROM words
        UNION ALL
        SELECT p.word, p.pos + g.l, p.np + 1,
               CASE WHEN p.seg = '' THEN g.piece
                    ELSE p.seg || ',' || g.piece END
        FROM paths p JOIN greedy g ON g.word = p.word AND g.j = p.pos
    )
    SELECT w.word, w.freq, CAST(length(w.word) AS INT) AS n_chars,
           CAST(p.np AS BIGINT) AS n_pieces, p.seg
    FROM words w JOIN paths p ON p.word = w.word AND p.pos = length(w.word)
""".replace("{REGEX}", sql_regex())


@register("wordpiece_segment_stats", oracle=_WORDPIECE_ORACLE)
def q_wordpiece_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match tokenization (BERT's inference
    rule) under the SAME frequency-derived vocabulary the unigram-LM
    queries score — completing the tokenizer triad (BPE merges /
    unigram-LM Viterbi / WordPiece MaxMatch) on one comparable vocab.
    The oracle precomputes each position's unique longest vocab match
    and follows it with a linear seg-carrying recursion, so the hash
    locks every word's full token sequence, not a summary.

    100 TB shape: identical to unigram_segment_stats — corpus touched
    by ONE word-count shuffle; greedy scan is an Arrow kernel over
    the Zipf-bounded word-type table (operators/bpe.py
    wordpiece_segment_stats)."""
    return wordpiece_segment_stats(table(spark, "documents", sf_dir))
