"""BPE tokenizer training and subword encoding — the canonical
iterative LLM-pipeline operator (train a byte-pair-encoding merge
table from corpus statistics, then encode documents with it).

Scale design (the HuggingFace-tokenizers / sentencepiece split):

1. **Pre-tokenize + count words distributed.** The corpus-sized work
   is exactly the flagship word count (one partially-aggregated
   shuffle of distinct words, operators/wordcount.py) — at 100 TB the
   word-TYPE table is Zipf-bounded (~10^6 rows), not corpus-sized.
2. **Train on the top-N word types driver-side.** BPE's merge loop is
   inherently sequential (merge k+1 depends on k); running it over a
   bounded top-N vocabulary slice (freq DESC, word ASC tie-break,
   default 2000 types) makes each round O(vocab · word_len) driver
   work — the same bounded-driver-state pattern as the IVF/PQ
   quantizer trainings (operators/similarity.py): the model is small,
   the DATA never leaves the cluster.
3. **Encode distributed.** The learned merges are literals; applying
   them is a chain of per-row greedy array folds (F.aggregate) —
   JVM-side, zero shuffles, scan-speed over any corpus size.

Greedy merge semantics (all three implementations must agree — the
pure-Python trainer here, the F.aggregate fold, and the positional
window formulation the SQL oracle uses, see queries/bpe_queries.py):
scan left to right; an adjacent (left, right) occurrence merges iff
it does not overlap an occurrence already merged in this round.
Overlaps only arise for left == right runs ("aaaa" + (a,a) -> [aa,aa],
never [a,aa,a]). Pair counting includes overlapping occurrences
("aaa" contributes (a,a) twice), matching the classic algorithm
(Sennrich et al. 2016; HF tokenizers BpeTrainer).

The reference engine has no subword surface — this extends its
word-count statistics (word_count_mpi.c:391-443 computes exactly the
word-frequency table BPE training consumes) into tokenizer training.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mpi_word_count_spark.tokenizer import tokenize

# Words are restricted to this class so one "symbol" is one ASCII
# char in every engine (Spark, DuckDB, Python) — no grapheme/byte
# ambiguity in the char split, and binary collation tie-breaks agree.
ALNUM_WORD = "^[a-z0-9]+$"

DEFAULT_MERGES = 16
DEFAULT_VOCAB_TYPES = 2000


def word_freqs(docs: DataFrame) -> DataFrame:
    """Corpus word-type frequency table: (word, freq), alnum words
    only. The only corpus-sized stage of BPE training — one
    partial-aggregated shuffle keyed on the word (S1/S2 tokenizer
    semantics, shared with the flagship)."""
    toks = tokenize(docs)
    return (
        toks.filter(F.col("word").rlike(ALNUM_WORD))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def top_vocab(freqs: DataFrame) -> list[tuple[str, int]]:
    """Driver-side (word, freq) training slice: top-N word types by
    (freq DESC, word ASC). Bounded collect — model-sized, like the
    k-means centroid pulls (operators/similarity.py)."""
    rows = (
        freqs.orderBy(F.desc("freq"), F.asc("word"))
        .limit(DEFAULT_VOCAB_TYPES)
        .collect()
    )
    return [(r["word"], r["freq"]) for r in rows]


def greedy_merge(syms: list[str], left: str, right: str, merged: str) -> list[str]:
    """One round of greedy left-to-right pair merging (the reference
    semantics all other implementations are tested against)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe(
    word_freq: list[tuple[str, int]],
    merges: int = DEFAULT_MERGES,
    split=None,
) -> list[tuple[str, str, str, int]]:
    """Train a BPE merge table on a (word, freq) list.

    Returns up to `merges` rows of (left, right, merged, pair_count)
    in learned order. Pair selection tie-break: count DESC, left ASC,
    right ASC (bytewise — words are ALNUM_WORD so ASCII-only in the
    char form; the byte form's remapped symbols compare identically
    by code point and by UTF-8 bytes). Stops early if no adjacent
    pair remains. `split` maps a word to its initial symbol sequence
    (default: one symbol per character; byte_symbols for the
    byte-level form)."""
    split = split or list
    seqs: list[tuple[list[str], int]] = [(split(w), f) for w, f in word_freq]
    table: list[tuple[str, str, str, int]] = []
    for _ in range(merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in seqs:
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        table.append((left, right, merged, cnt))
        seqs = [(greedy_merge(s, left, right, merged), f) for s, f in seqs]
    return table


def chars_col(col: Column | str) -> Column:
    """word -> array of single-char symbols (ASCII by ALNUM_WORD)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit("."), 0)


def _apply_merge_expr(syms: Column, lit_l: Column, lit_r: Column, lit_m: Column) -> Column:
    """One greedy merge round as a JVM array fold (F.aggregate): the
    accumulator's last element merges with the incoming symbol iff it
    equals `lit_l` and the symbol equals `lit_r`. Because a merged
    token is never equal to `lit_l` (merged = left||right, symbols
    are non-empty), a fresh merge can't immediately re-merge — exactly
    the greedy left-to-right semantics (tested against greedy_merge
    in tests/test_bpe.py). The merge symbols are Columns so one body
    serves literal args and element_at over the merge-table arrays."""
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == lit_l)
            & (s == lit_r),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(lit_m)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def merge_fold_col(
    syms: Column, merge_table: list[tuple[str, str, str, int]]
) -> Column:
    """Apply a learned merge table to a symbol array as ONE nested
    aggregate instead of len(merge_table) chained fold trees.

    Optimization r10 (the lsh_bucket_array pattern, guide §1/§2):
    the chained form built one F.aggregate tree per merge — ~1 s of
    driver-side py4j expression construction per plan build at 16
    merges. Here the outer aggregate folds over the merge INDICES in
    rank order, reading each round's (left, right, merged) from three
    array literals; the inner fold is _apply_merge_expr — the
    IDENTICAL greedy left-to-right pass in the identical order, so
    encodings are bit-equal (oracle-verified by every BPE consumer;
    parity with greedy_merge locked by tests/test_bpe.py)."""
    if not merge_table:
        return syms
    lefts = F.lit([t[0] for t in merge_table])
    rights = F.lit([t[1] for t in merge_table])
    merged = F.lit([t[2] for t in merge_table])
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(len(merge_table))),
        syms,
        lambda acc, i: _apply_merge_expr(
            acc,
            F.element_at(lefts, i),
            F.element_at(rights, i),
            F.element_at(merged, i),
        ),
    )


def encode_col(col: Column | str, merge_table: list[tuple[str, str, str, int]]) -> Column:
    """word -> BPE symbol array under a learned merge table: the
    merge table folds per row in rank order (merge_fold_col) — no
    UDF, no shuffle, whole-stage-codegen'd per scanned row."""
    return merge_fold_col(chars_col(col), merge_table)


# --- byte-level BPE (the GPT-2 / tiktoken form) -----------------------------
# Operate on UTF-8 BYTES instead of characters, with every byte
# remapped to a printable unicode char (the GPT-2 bytes_to_unicode
# table) so symbols stay ordinary strings in every engine. No unknown
# tokens by construction: all 256 bytes have a base symbol, so ANY
# word — punctuation, emoji, mixed scripts — encodes. The merge loop,
# greedy fold, and positional SQL-oracle formulation are IDENTICAL to
# the char form; only the initial symbol split differs.


def _gpt2_byte_map() -> dict[int, str]:
    """The GPT-2 bytes_to_unicode remap: printable latin-1 bytes map
    to themselves, the rest to U+0100+k in first-free order. Bijective
    over 0..255; code-point order of the images of 33..126 equals
    byte order, so tie-breaks on ASCII corpora match the char form."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAD))
        + list(range(0xAE, 0x100))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(0x100 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


BYTE_TO_CHAR: dict[int, str] = _gpt2_byte_map()


def byte_symbols(word: str) -> list[str]:
    """word -> remapped UTF-8 byte symbol sequence (Python twin of
    byte_symbols_col; the `split` argument for byte-level train_bpe)."""
    return [BYTE_TO_CHAR[b] for b in word.encode("utf-8")]


def byte_remap_sql_array(dialect: str = "duckdb") -> str:
    """The 256-entry byte->symbol table as a DuckDB list literal
    (ANSI string quoting: single quotes doubled, backslash literal;
    non-ASCII symbols embed as UTF-8). The Spark side uses F.lit of
    the same values instead — Spark's default string literal treats
    backslash as an escape, so one shared literal TEXT cannot parse
    in both engines; shared VALUES are what the parity needs."""
    if dialect != "duckdb":
        raise ValueError("SQL-text remap literal is DuckDB-only")
    items = ",".join(
        "'" + BYTE_TO_CHAR[b].replace("'", "''") + "'" for b in range(256)
    )
    return f"[{items}]"


def byte_symbols_col(col: Column | str) -> Column:
    """word -> remapped UTF-8 byte symbols, pure JVM built-ins (no
    UDF): hex(encode(w)) -> 2-char groups -> value -> 256-entry
    remap array literal."""
    c = F.col(col) if isinstance(col, str) else col
    hexes = F.regexp_extract_all(F.hex(F.encode(c, "UTF-8")), F.lit(".."), 0)
    remap = F.lit([BYTE_TO_CHAR[b] for b in range(256)])
    return F.transform(
        hexes,
        lambda h: F.element_at(remap, F.conv(h, 16, 10).cast("int") + 1),
    )


def byte_encode_col(
    col: Column | str, merge_table: list[tuple[str, str, str, int]]
) -> Column:
    """word -> byte-level BPE symbol array under a learned merge
    table: the same merge-table fold as encode_col (merge_fold_col),
    over the byte symbol split."""
    return merge_fold_col(byte_symbols_col(col), merge_table)


# --- unigram-LM segmentation (the SentencePiece-style counterpart) ---------
# BPE above is the merge-based tokenizer family; the OTHER major
# subword algorithm is the unigram language model (Kudo 2018,
# sentencepiece): score candidate pieces by corpus frequency and
# segment each word into the maximum-likelihood piece sequence via
# dynamic programming. To keep the DP cross-engine exact (the repo's
# integer-milli discipline), piece cost is the integer
# bit-length surrogate of -log2 P(piece):
#   cost(p) = bitlen(total_freq) - bitlen(freq_p) + 1
# (bitlen(x) = floor(log2 x) + 1 — DuckDB: length(bin(x))). The DP
# minimizes (total_cost, n_pieces) lexicographically; both components
# are additive, and cost strictly dominates, so prefix-optimal
# substitution holds and the DP equals the global path minimum the
# enumeration oracle computes.

UNIGRAM_K_MULTI = 32
UNIGRAM_MAX_PIECE = 4


def piece_freqs(freqs: DataFrame) -> DataFrame:
    """Candidate-piece frequency table: every substring of length
    1..max_piece of every word type, weighted by the word's corpus
    frequency. JVM-side substring explosion (no UDF); output is
    word-type-bounded (~30 pieces/type), one piece-keyed shuffle."""
    lens = F.sequence(F.lit(1), F.least(F.lit(UNIGRAM_MAX_PIECE), F.length("word")))
    subs = F.flatten(
        F.transform(
            lens,
            lambda l: F.transform(
                F.sequence(F.lit(1), F.length("word") - l + 1),
                lambda s: F.col("word").substr(s, l),
            ),
        )
    )
    return (
        freqs.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("pfreq"))
    )


def unigram_vocab(freqs: DataFrame) -> dict[str, int]:
    """piece -> integer cost. ALL single characters are kept (every
    word stays segmentable); the top k_multi multi-char pieces join
    them by (freq DESC, piece ASC) — binary-collation tie-break, same
    as the oracle's ORDER BY. Bounded collects (≤ alphabet + k_multi
    rows), the same model-sized driver pull as top_vocab above."""
    from mpi_word_count_spark.operators import materialize

    pf = materialize(piece_freqs(freqs))
    singles = pf.filter(F.length("piece") == 1).collect()
    multi = (
        pf.filter(F.length("piece") >= 2)
        .orderBy(F.desc("pfreq"), F.asc("piece"))
        .limit(UNIGRAM_K_MULTI)
        .collect()
    )
    kept = {r["piece"]: int(r["pfreq"]) for r in [*singles, *multi]}
    total = sum(kept.values())
    return {
        p: total.bit_length() - f.bit_length() + 1 for p, f in kept.items()
    }


def _unigram_dp(
    word: str, vocab: dict[str, int], max_piece: int
) -> tuple[int, int, str]:
    """Maximum-likelihood segmentation of one word under integer piece
    costs: minimizes (total_cost, n_pieces, seg) lexicographically,
    where seg is the comma-joined piece sequence. The third component
    makes the winning PATH unique (not just its cost), which the EM
    E-step needs — usage counts must not depend on dict iteration
    order. Comparing comma-joined strings equals comparing piece
    tuples because segmentations of the same prefix with the same
    piece count have identical string length, and ',' sorts below the
    [a-z0-9] piece alphabet. Prefix-optimal substitution holds for
    all three components (cost and pieces are additive; equal-length
    string concat preserves order), so the DP minimum is the global
    path minimum."""
    n = len(word)
    dp: list[tuple[int, int, str] | None] = [None] * (n + 1)
    dp[0] = (0, 0, "")
    for i in range(1, n + 1):
        best: tuple[int, int, str] | None = None
        for length in range(1, min(max_piece, i) + 1):
            prev = dp[i - length]
            if prev is None:
                continue
            piece = word[i - length : i]
            c = vocab.get(piece)
            if c is None:
                continue
            seg = piece if prev[2] == "" else prev[2] + "," + piece
            cand = (prev[0] + c, prev[1] + 1, seg)
            if best is None or cand < best:
                best = cand
        dp[i] = best
    if dp[n] is None:
        raise ValueError(f"word {word!r} not segmentable under vocab")
    return dp[n]


def _em_usage(
    freqs: DataFrame, vocab: dict[str, int], max_piece: int
) -> dict[str, int]:
    """E-step, distributed: segment every word TYPE under the current
    costs (Arrow kernel over the Zipf-bounded type table, model-sized
    vocab in the closure), emit per-batch partial piece-usage counts,
    and reduce with one vocab-sized shuffle. The collect is bounded by
    the vocab (≤ alphabet + k_multi rows) — model-sized, like
    top_vocab."""
    import pandas as pd

    v = dict(vocab)

    def kernel(batches):
        for pdf in batches:
            counts: dict[str, int] = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                seg = _unigram_dp(word, v, max_piece)[2]
                for piece in seg.split(","):
                    counts[piece] = counts.get(piece, 0) + int(freq)
            yield pd.DataFrame(
                {"piece": list(counts), "use": list(counts.values())}
            )

    per = freqs.mapInPandas(kernel, schema="piece string, use long")
    rows = per.groupBy("piece").agg(F.sum("use").alias("use")).collect()
    return {r["piece"]: int(r["use"]) for r in rows}


UNIGRAM_EM_ROUNDS = 2


def unigram_em_train(
    freqs: DataFrame,
    rounds: int = UNIGRAM_EM_ROUNDS,
) -> tuple[dict[str, int], dict[str, int]]:
    """The hard-EM loop itself: (final piece->cost vocab, final
    E-step's piece->usage counts). Shared by unigram_em_vocab (which
    returns the model) and unigram_em_segment_stats (which tokenizes
    under it)."""
    vocab = unigram_vocab(freqs)
    use: dict[str, int] = {}
    for _ in range(rounds):
        use = _em_usage(freqs, vocab, UNIGRAM_MAX_PIECE)
        total = sum(use.values())
        new_vocab: dict[str, int] = {}
        for p in vocab:
            u = use.get(p, 0)
            if u > 0:
                new_vocab[p] = total.bit_length() - u.bit_length() + 1
            elif len(p) == 1:
                new_vocab[p] = total.bit_length() + 1
        vocab = new_vocab
    return vocab, use


def unigram_em_vocab(docs: DataFrame, rounds: int = UNIGRAM_EM_ROUNDS) -> DataFrame:
    """Unigram-LM vocabulary with hard-EM refinement (the training
    loop sentencepiece runs after the frequency initialization that
    unigram_vocab computes; Kudo 2018 §3.2, Viterbi approximation):

      E-step: segment every word type into its unique best piece
              sequence under the current integer costs (_unigram_dp;
              distributed, one type-table pass + vocab-sized shuffle);
      M-step: re-score pieces from their segmentation usage,
              cost(p) = bitlen(total_use) - bitlen(use_p) + 1 (the
              repo's integer -log2 surrogate); multi-char pieces that
              went UNUSED are pruned (sentencepiece's vocabulary
              shrinking), single chars are floored at
              bitlen(total_use) + 1 so every word stays segmentable.

    The loop is driver-side over a model-sized dict — the same
    bounded-driver pattern as the BPE merge loop; per round the only
    corpus-scale work is one Arrow pass over the word-TYPE table.
    Returns the final vocab as (piece, n_chars, em_use, em_cost),
    em_use being the final E-step's usage (the counts the final costs
    derive from)."""
    from mpi_word_count_spark.operators import materialize

    freqs = materialize(word_freqs(docs))
    vocab, use = unigram_em_train(freqs, rounds)
    rows = [
        (p, len(p), int(use.get(p, 0)), int(c))
        for p, c in sorted(vocab.items())
    ]
    return docs.sparkSession.createDataFrame(
        rows, "piece string, n_chars int, em_use long, em_cost long"
    )


def unigram_segment_stats(docs: DataFrame) -> DataFrame:
    """Per word type: the unigram-LM segmentation cost and piece
    count — (word, freq, n_chars, min_cost, min_pieces), all exact
    integers. Corpus-sized work is ONE word-count shuffle plus one
    piece-count shuffle; the DP runs in an Arrow kernel over the
    word-TYPE table (Zipf-bounded at 100 TB) with the model-sized
    vocab broadcast in the closure."""
    freqs = word_freqs(docs)
    vocab = unigram_vocab(freqs)
    return _segment_stats_df(freqs, vocab, UNIGRAM_MAX_PIECE)


def _segment_stats_df(
    freqs: DataFrame, vocab: dict[str, int], max_piece: int
) -> DataFrame:
    """(word, freq, n_chars, min_cost, min_pieces) via the DP under a
    given cost vocab — the tokenize-time kernel, shared by the
    frequency-initialized and EM-refined paths."""
    import pandas as pd
    from pyspark.sql import types as T

    def kernel(batches):
        for pdf in batches:
            out = {
                "word": [], "freq": [], "n_chars": [],
                "min_cost": [], "min_pieces": [],
            }
            for word, freq in zip(pdf["word"], pdf["freq"]):
                cost, pieces, _seg = _unigram_dp(word, vocab, max_piece)
                out["word"].append(word)
                out["freq"].append(int(freq))
                out["n_chars"].append(len(word))
                out["min_cost"].append(cost)
                out["min_pieces"].append(pieces)
            yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("word", T.StringType(), False),
            T.StructField("freq", T.LongType(), False),
            T.StructField("n_chars", T.IntegerType(), False),
            T.StructField("min_cost", T.LongType(), False),
            T.StructField("min_pieces", T.LongType(), False),
        ]
    )
    return freqs.mapInPandas(kernel, schema=schema)


def unigram_em_segment_stats(docs: DataFrame) -> DataFrame:
    """Tokenization under the EM-REFINED vocabulary: train with
    unigram_em_train, then segment every word type under the final
    costs — the inference half of the sentencepiece pipeline (train →
    tokenize) as one oracle-verifiable DataFrame. Same plan shape as
    unigram_segment_stats plus the EM rounds' type-table passes."""
    from mpi_word_count_spark.operators import materialize

    freqs = materialize(word_freqs(docs))
    vocab, _use = unigram_em_train(freqs)
    return _segment_stats_df(freqs, vocab, UNIGRAM_MAX_PIECE)


# --- subword regularization: n-best segmentation (Kudo 2018 §3.1) -----------

UNIGRAM_NBEST_K = 3


def _unigram_kbest(
    word: str, vocab: dict[str, int], max_piece: int, k: int
) -> list[tuple[int, int, str]]:
    """The k best segmentations of one word, ranked lexicographically
    by (total_cost, n_pieces, seg) — the k-best extension of
    _unigram_dp (whose ordering argument carries over unchanged: all
    three components are additive / equal-length-concat monotone, so
    appending the same piece to two prefixes preserves their order).
    Standard k-shortest-paths in a DAG: the m-th best path into
    position i through edge (i-len → i) extends the m-th best path at
    i-len, so keeping k candidates per position is lossless. Distinct
    candidates are distinct segmentations by construction (different
    last piece, or different prefix seg), so no dedup pass is needed.
    Returns ≤ k tuples, ascending; [0] equals _unigram_dp (property-
    tested)."""
    n = len(word)
    dp: list[list[tuple[int, int, str]]] = [[] for _ in range(n + 1)]
    dp[0] = [(0, 0, "")]
    for i in range(1, n + 1):
        cands: list[tuple[int, int, str]] = []
        for length in range(1, min(max_piece, i) + 1):
            piece = word[i - length : i]
            c = vocab.get(piece)
            if c is None:
                continue
            for prev in dp[i - length]:
                seg = piece if prev[2] == "" else prev[2] + "," + piece
                cands.append((prev[0] + c, prev[1] + 1, seg))
        cands.sort()
        dp[i] = cands[:k]
    if not dp[n]:
        raise ValueError(f"word {word!r} not segmentable under vocab")
    return dp[n]


def _nbest_df(
    freqs: DataFrame, vocab: dict[str, int], max_piece: int, k: int
) -> DataFrame:
    """(word, freq, rank, cost, pieces, seg) — one row per word type
    per n-best segmentation, nb_rank 1-based in (cost, pieces, seg)
    order. Same Arrow-kernel shape as _segment_stats_df: the DP runs
    over the Zipf-bounded word-TYPE table with the model-sized vocab
    in the closure; output is ≤ k rows per type."""
    import pandas as pd
    from pyspark.sql import types as T

    def kernel(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "word": [], "freq": [], "nb_rank": [],
                "cost": [], "pieces": [], "seg": [],
            }
            for word, freq in zip(pdf["word"], pdf["freq"]):
                for r, (cost, pieces, seg) in enumerate(
                    _unigram_kbest(word, vocab, max_piece, k), start=1
                ):
                    out["word"].append(word)
                    out["freq"].append(int(freq))
                    out["nb_rank"].append(r)
                    out["cost"].append(cost)
                    out["pieces"].append(pieces)
                    out["seg"].append(seg)
            yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("word", T.StringType(), False),
            T.StructField("freq", T.LongType(), False),
            T.StructField("nb_rank", T.IntegerType(), False),
            T.StructField("cost", T.LongType(), False),
            T.StructField("pieces", T.LongType(), False),
            T.StructField("seg", T.StringType(), False),
        ]
    )
    return freqs.mapInPandas(kernel, schema=schema)


def unigram_nbest_segments(docs: DataFrame) -> DataFrame:
    """Subword regularization's enumeration half (Kudo 2018 §3.1,
    sentencepiece `nbest_size`): the n best segmentations per word
    type under the frequency-initialized unigram costs. Corpus-sized
    work is unchanged from unigram_segment_stats (one word-count +
    one piece-count shuffle); the k-best DP replaces the 1-best DP in
    the same Arrow kernel."""
    freqs = word_freqs(docs)
    vocab = unigram_vocab(freqs)
    return _nbest_df(freqs, vocab, UNIGRAM_MAX_PIECE, UNIGRAM_NBEST_K)


def unigram_sampled_segments(docs: DataFrame) -> DataFrame:
    """Subword regularization's sampling half: ONE segmentation per
    word type, drawn uniformly from its n-best list — sentencepiece's
    `SampleEncode(nbest_size=k, alpha→0)` limit, where the sampling
    distribution P(seg)^α flattens to uniform over the n-best. The
    draw is the deterministic md5-uniform (py_hash32(word) mod
    n_best), so the sample is bit-reproducible across engines,
    partitionings, and retries — the same reproducibility contract as
    dsir_gumbel_sample. Columns: (word, freq, n_best, pick, cost,
    pieces, seg)."""
    import pandas as pd
    from pyspark.sql import types as T

    from mpi_word_count_spark.functions.hashing import py_hash32

    freqs = word_freqs(docs)
    vocab = unigram_vocab(freqs)

    def kernel(batches):
        for pdf in batches:
            out: dict[str, list] = {
                "word": [], "freq": [], "n_best": [],
                "pick": [], "cost": [], "pieces": [], "seg": [],
            }
            for word, freq in zip(pdf["word"], pdf["freq"]):
                nbest = _unigram_kbest(word, vocab, UNIGRAM_MAX_PIECE, UNIGRAM_NBEST_K)
                pick = py_hash32(word, "useg") % len(nbest)
                cost, pieces, seg = nbest[pick]
                out["word"].append(word)
                out["freq"].append(int(freq))
                out["n_best"].append(len(nbest))
                out["pick"].append(pick + 1)
                out["cost"].append(cost)
                out["pieces"].append(pieces)
                out["seg"].append(seg)
            yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("word", T.StringType(), False),
            T.StructField("freq", T.LongType(), False),
            T.StructField("n_best", T.IntegerType(), False),
            T.StructField("pick", T.IntegerType(), False),
            T.StructField("cost", T.LongType(), False),
            T.StructField("pieces", T.LongType(), False),
            T.StructField("seg", T.StringType(), False),
        ]
    )
    return freqs.mapInPandas(kernel, schema=schema)


# --- WordPiece (greedy longest-match-first) ---------------------------------


def _wordpiece_greedy(
    word: str, pieces: set[str], max_piece: int
) -> tuple[int, str]:
    """MaxMatch: repeatedly take the LONGEST vocab piece that prefixes
    the remaining suffix (Devlin et al. 2019's WordPiece inference;
    Song et al. 2021 §2). Total because every single character is in
    the vocab. Returns (n_pieces, comma-joined segmentation) — unlike
    the unigram DP this is a one-pass greedy, so the segmentation can
    be strictly worse than the DP optimum (tests plant such a case)."""
    out: list[str] = []
    pos, n = 0, len(word)
    while pos < n:
        ln = min(max_piece, n - pos)
        while ln > 0 and word[pos : pos + ln] not in pieces:
            ln -= 1
        if ln == 0:
            raise ValueError(f"word {word!r} not coverable by vocab")
        out.append(word[pos : pos + ln])
        pos += ln
    return len(out), ",".join(out)


def wordpiece_segment_stats(docs: DataFrame) -> DataFrame:
    """Per word type: the WordPiece greedy longest-match segmentation
    under the frequency-derived piece vocabulary (the same singles +
    top-k_multi substrings unigram_segment_stats scores, so the BPE /
    unigram-LM / WordPiece triad is comparable on one vocab). Output
    (word, freq, n_chars, n_pieces, seg) — the seg column pins the
    whole token SEQUENCE, not just its length.

    Scale shape: identical to unigram_segment_stats — one word-count
    shuffle + one piece-count shuffle to derive the vocab; the greedy
    scan runs in an Arrow kernel over the Zipf-bounded word-TYPE
    table with the model-sized piece set in the closure. Per word the
    scan is O(len · max_piece) worst case (LinMaxMatch's failure
    links would make it O(len); at max_piece=4 the constant is
    irrelevant)."""
    import pandas as pd
    from pyspark.sql import types as T

    freqs = word_freqs(docs)
    pieces = set(unigram_vocab(freqs))

    def kernel(batches):
        for pdf in batches:
            out = {
                "word": [], "freq": [], "n_chars": [],
                "n_pieces": [], "seg": [],
            }
            for word, freq in zip(pdf["word"], pdf["freq"]):
                n_pieces, seg = _wordpiece_greedy(word, pieces, UNIGRAM_MAX_PIECE)
                out["word"].append(word)
                out["freq"].append(int(freq))
                out["n_chars"].append(len(word))
                out["n_pieces"].append(n_pieces)
                out["seg"].append(seg)
            yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("word", T.StringType(), False),
            T.StructField("freq", T.LongType(), False),
            T.StructField("n_chars", T.IntegerType(), False),
            T.StructField("n_pieces", T.LongType(), False),
            T.StructField("seg", T.StringType(), False),
        ]
    )
    return freqs.mapInPandas(kernel, schema=schema)
