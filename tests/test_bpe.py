"""BPE tokenizer training (operators/bpe.py): the three greedy-merge
implementations must agree — the pure-Python trainer (the reference
semantics), the F.aggregate fold the distributed encoder uses, and
the positional window formulation the SQL oracle uses (exercised
end-to-end by test_oracle_parity on bpe_merges/bpe_token_counts)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.bpe import (
    encode_col,
    greedy_merge,
    top_vocab,
    train_bpe,
    word_freqs,
)

# Adversarial symbol sequences: same-symbol runs (the only overlap
# case), merge-at-ends, merged-token-as-left, no-op words.
RUN_WORDS = ["aaaa", "aaa", "aa", "a", "baaaab", "abab", "banana", "xyz"]


def test_greedy_merge_runs_pair_even_offsets():
    # overlapping occurrences resolve left-to-right: aaaa -> [aa, aa],
    # aaa -> [aa, a] — never [a, aa]
    assert greedy_merge(list("aaaa"), "a", "a", "aa") == ["aa", "aa"]
    assert greedy_merge(list("aaa"), "a", "a", "aa") == ["aa", "a"]
    assert greedy_merge(list("baaaab"), "a", "a", "aa") == ["b", "aa", "aa", "b"]
    # a fresh merge never immediately re-merges as `left`
    assert greedy_merge(["ab", "ab", "c"], "ab", "c", "abc") == ["ab", "abc"]


def test_train_bpe_counts_overlaps_and_tie_breaks():
    # 'aaa' contributes (a,a) twice (overlap counting); ties break on
    # (count DESC, left ASC, right ASC)
    table = train_bpe([("aaa", 1), ("bc", 2)], merges=1)
    # (a,a) count 2 == (b,c) count 2 -> 'a' < 'b' wins the tie
    assert table[0] == ("a", "a", "aa", 2)
    # second round on the merged state: remaining pairs
    table = train_bpe([("aaa", 1), ("bc", 2)], merges=3)
    assert [t[:3] for t in table] == [
        ("a", "a", "aa"),
        ("b", "c", "bc"),
        ("aa", "a", "aaa"),
    ]
    # stops when no pairs remain (all words single-symbol):
    # 'ab' -> merge (a,b) -> ['ab'] -> no pairs -> stop after 1
    assert train_bpe([("ab", 1)], merges=10) == [("a", "b", "ab", 1)]


def test_fold_encoder_matches_python_greedy(spark):
    # learn a table on the fixture corpus, then encode adversarial
    # words with BOTH the F.aggregate fold chain and the Python loop
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = train_bpe(top_vocab(word_freqs(docs)))
    assert len(merges) == 16

    words = RUN_WORDS + [w for w, _ in top_vocab(word_freqs(docs))][:20]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: list(r["syms"])
        for r in df.select("word", encode_col("word", merges).alias("syms")).collect()
    }
    for w in words:
        expect = list(w)
        for left, right, merged, _ in merges:
            expect = greedy_merge(expect, left, right, merged)
        assert got[w] == expect, w


def test_fold_matches_oracle_positional_formulation(spark):
    # the SQL oracle's gaps-and-islands merge application, run over
    # the same adversarial words in DuckDB, must agree with the fold
    from mpi_word_count_spark.queries.bpe_queries import _round_ctes

    left, right, merged = "a", "a", "aa"
    values = ", ".join(f"('{w}', 1)" for w in RUN_WORDS)
    # drive one oracle round with a pinned best-pair (pc/best swapped
    # for a constant) by restricting the vocab to a word guaranteeing
    # (a,a) wins round 1: 'aaaa' has pair count 3, unique maximum
    round1 = _round_ctes(1)
    sql = f"""
    WITH words(word, freq) AS (VALUES {values}),
    vocab AS (SELECT 'aaaa' AS word),
    chars AS (SELECT word, freq, regexp_extract_all(word, '.') AS a FROM words),
    s0 AS (
        SELECT word, freq, unnest(generate_series(1, len(a))) AS pos,
               unnest(a) AS sym
        FROM chars
    ),{round1}
    SELECT word, list(sym ORDER BY pos) AS syms FROM s1 GROUP BY word
    """
    oracle = {w: list(s) for w, s in duckdb.sql(sql).fetchall()}
    for w in RUN_WORDS:
        assert oracle[w] == greedy_merge(list(w), left, right, merged), w


def test_token_counts_plan_is_single_pass(spark):
    from mpi_word_count_spark.registry import queries

    df = queries()["bpe_token_counts"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # word-size table reaches the per-doc table as a broadcast join
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    from mpi_word_count_spark import operators

    operators.release_caches()


def test_merges_nonempty_and_deterministic(spark):
    from mpi_word_count_spark.registry import queries

    a = queries()["bpe_merges"](spark, "/root/testdata/sf0.001").collect()
    b = queries()["bpe_merges"](spark, "/root/testdata/sf0.001").collect()
    assert a == b
    assert [r["merge_rank"] for r in a] == list(range(1, 17))
    for r in a:
        assert r["merged"] == r["left_sym"] + r["right_sym"]
        assert r["pair_count"] > 0


def test_greedy_merge_properties_hypothesis():
    """Property-based invariants of one greedy merge round: (1) the
    concatenation is preserved, (2) no adjacent (left, right) pair
    survives in the output, (3) merged-token count equals the greedy
    occurrence count (ceil of run lengths for L == R)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    syms = st.lists(st.sampled_from(["a", "b", "ab", "ba"]), max_size=30)

    @settings(max_examples=300, deadline=None)
    @given(syms, st.sampled_from(["a", "b", "ab"]), st.sampled_from(["a", "b", "ba"]))
    def check(s, left, right):
        merged = left + right
        out = greedy_merge(s, left, right, merged)
        assert "".join(out) == "".join(s)
        for x, y in zip(out, out[1:]):
            # a surviving adjacent (L, R) pair is only legal if its L
            # was produced by a merge THIS round (greedy can't reuse it)
            if (x, y) == (left, right):
                assert merged == left, (s, out)
        # count check against an independent linear scan
        n_merges = sum(1 for t in out if t == merged) - sum(
            1 for t in s if t == merged
        )
        i = expected = 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                expected += 1
                i += 2
            else:
                i += 1
        assert n_merges == expected, (s, out)

    check()


def test_byte_bpe_roundtrip_random_utf8():
    """encode∘decode = id on arbitrary UTF-8 text, under ANY merge
    table: merged symbols are concatenations of base symbols, so the
    symbol stream always unmaps to the original byte stream — the
    no-unknown-tokens guarantee byte-level BPE exists for."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mpi_word_count_spark.operators.bpe import (
        BYTE_TO_CHAR,
        byte_symbols,
        greedy_merge,
        train_bpe,
    )

    # a bijective remap covering all 256 bytes is the precondition
    assert sorted(BYTE_TO_CHAR) == list(range(256))
    assert len(set(BYTE_TO_CHAR.values())) == 256
    char_to_byte = {c: b for b, c in BYTE_TO_CHAR.items()}

    def byte_decode(symbols: list[str]) -> str:
        # the inverse of byte-level BPE: concatenate symbols, unmap
        # each char to its byte, UTF-8 decode
        return bytes(char_to_byte[ch] for ch in "".join(symbols)).decode("utf-8")

    @settings(max_examples=200, deadline=None)
    @given(st.text(min_size=1, max_size=40))
    def check(word):
        table = train_bpe([(word, 1)], merges=8, split=byte_symbols)
        syms = byte_symbols(word)
        for left, right, merged, _ in table:
            syms = greedy_merge(syms, left, right, merged)
        assert byte_decode(syms) == word
        # pre-merge base symbols decode too
        assert byte_decode(byte_symbols(word)) == word

    check()


def test_byte_bpe_fold_matches_python_and_char_form(spark):
    """The Spark byte fold (byte_encode_col) agrees with the Python
    greedy loop on adversarial + corpus words (including multi-byte
    UTF-8, where one char is SEVERAL symbols); and on a pure-ASCII
    alnum corpus the byte merge table degenerates to exactly the char
    form's table (the remap is identity on [a-z0-9])."""
    from mpi_word_count_spark.operators.bpe import (
        byte_encode_col,
        byte_symbols,
        greedy_merge,
        train_bpe,
        top_vocab,
        word_freqs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    freqs = word_freqs(docs)  # alnum-only word table
    vocab = top_vocab(freqs)
    char_table = train_bpe(vocab)
    byte_table = train_bpe(vocab, split=byte_symbols)
    assert char_table == byte_table  # ASCII alnum: byte form == char form

    words = ["aaaa", "naïve", "héllo", "日本語", "x", "café-au-lait"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: list(r["syms"])
        for r in df.select(
            "word", byte_encode_col("word", byte_table).alias("syms")
        ).collect()
    }
    for w in words:
        expect = byte_symbols(w)
        for left, right, merged, _ in byte_table:
            expect = greedy_merge(expect, left, right, merged)
        assert got[w] == expect, w
        # multi-byte chars split into several base symbols
        assert len(byte_symbols(w)) == len(w.encode("utf-8"))


def test_unigram_segmentation_dp(spark):
    """The unigram DP returns the true global minimum: brute-force
    enumeration over every segmentation agrees on (min_cost,
    min_pieces), and frequent multi-char pieces genuinely reduce
    piece counts below character count."""
    from itertools import combinations

    from mpi_word_count_spark.operators.bpe import (
        UNIGRAM_MAX_PIECE,
        unigram_segment_stats,
        unigram_vocab,
        word_freqs,
    )

    docs = spark.createDataFrame(
        [(i, "the cat then the that ") for i in range(50)]
        + [(100, "zq xv ")],
        "doc_id long, text string",
    )
    out = {r["word"]: r for r in unigram_segment_stats(docs).collect()}
    vocab = unigram_vocab(word_freqs(docs))

    def brute(word):
        n = len(word)
        best = None
        # all segmentations = all subsets of cut positions 1..n-1
        for k in range(n):
            for cuts in combinations(range(1, n), k):
                bounds = [0, *cuts, n]
                pieces = [word[a:b] for a, b in zip(bounds, bounds[1:])]
                if any(len(p) > UNIGRAM_MAX_PIECE or p not in vocab for p in pieces):
                    continue
                cand = (sum(vocab[p] for p in pieces), len(pieces))
                best = cand if best is None or cand < best else best
        return best

    for word in out:
        cost, pieces = brute(word)
        assert (out[word]["min_cost"], out[word]["min_pieces"]) == (cost, pieces), word
    # 'the' is overwhelmingly frequent -> a single piece
    assert out["the"]["min_pieces"] == 1
    # rare 'zq' has no multi-char piece support beyond the top-k and
    # segments into single chars at worst
    assert out["zq"]["min_pieces"] <= 2


def test_unigram_dp_tiebreak_unique_path():
    from mpi_word_count_spark.operators.bpe import _unigram_dp

    # two paths tie on (cost, pieces): 'ab'+'c' vs 'a'+'bc' when all
    # pieces cost the same; the seg tie-break must pick the
    # lexicographically smaller joined string deterministically
    vocab = {"a": 3, "b": 3, "c": 3, "ab": 4, "bc": 4, "abc": 9}
    cost, pieces, seg = _unigram_dp("abc", vocab, 4)
    assert (cost, pieces) == (7, 2)
    assert seg == "a,bc"  # 'a,bc' < 'ab,c'
    # unreachable word raises (never happens with full single-char set)
    with pytest.raises(ValueError):
        _unigram_dp("xyz", {"a": 1}, 4)
    # single-piece win when cheap enough
    assert _unigram_dp("abc", {**vocab, "abc": 5}, 4)[2] == "abc"


def test_unigram_em_vocab_refines_and_prunes(spark):
    from mpi_word_count_spark.operators.bpe import (
        UNIGRAM_MAX_PIECE,
        unigram_em_vocab,
        unigram_vocab,
        word_freqs,
    )

    docs = spark.createDataFrame(
        [(i, "the quick the lazy the the dog dog") for i in range(4)],
        "doc_id long, text string",
    )
    out = {r["piece"]: r for r in unigram_em_vocab(docs, rounds=2).collect()}
    # every corpus character survives as a single-char piece
    chars = set("thequicklazydog")
    assert chars <= {p for p in out if len(p) == 1}
    # 'the' is the dominant word: its piece must survive EM with heavy
    # usage and a cost no worse than spelling it out
    assert "the" in out and out["the"]["em_use"] > 0
    singles_cost = sum(out[c]["em_cost"] for c in "the")
    assert out["the"]["em_cost"] < singles_cost
    # pruning: every multi-char piece in the final vocab was USED
    assert all(r["em_use"] > 0 for p, r in out.items() if len(p) >= 2)
    # usage conservation: total piece usage crosses the corpus exactly
    # once per round — sum of em_use equals sum over word types of
    # freq * pieces(word), which is at most total chars
    freqs = {
        r["word"]: r["freq"] for r in word_freqs(docs).collect()
    }
    total_chars = sum(len(w) * f for w, f in freqs.items())
    assert 0 < sum(r["em_use"] for r in out.values()) <= total_chars
    # unused singles get the floor cost (> any used piece's cost)
    vocab0 = unigram_vocab(word_freqs(docs))
    used_costs = [r["em_cost"] for r in out.values() if r["em_use"] > 0]
    floor = [r["em_cost"] for r in out.values() if r["em_use"] == 0]
    assert all(f > max(used_costs) for f in floor)


def test_unigram_kbest_property_one_best_and_global_topk():
    """VERDICT r8 item 4's contract: the 1-best of the k-best DP
    equals the existing DP on random (word, vocab) draws, and the
    k-best list equals the brute-force global top-k by
    (cost, pieces, seg) — sorted, distinct, every entry a valid
    segmentation."""
    from itertools import combinations

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mpi_word_count_spark.operators.bpe import _unigram_dp, _unigram_kbest

    @settings(max_examples=150, deadline=None)
    @given(
        word=st.text(alphabet="abc", min_size=1, max_size=8),
        k=st.integers(min_value=1, max_value=5),
        data=st.data(),
    )
    def prop(word, k, data):
        # random vocab: all single chars (keeps every word segmentable)
        # plus a random subset of multi-char substrings, random costs
        subs = sorted(
            {
                word[a:b]
                for a in range(len(word))
                for b in range(a + 2, min(a + 4, len(word)) + 1)
            }
        )
        chosen = data.draw(st.sets(st.sampled_from(subs)) if subs else st.just(set()))
        vocab = {c: data.draw(st.integers(1, 9)) for c in "abc"}
        for p in chosen:
            vocab[p] = data.draw(st.integers(1, 9))
        kb = _unigram_kbest(word, vocab, 4, k)
        assert kb[0] == _unigram_dp(word, vocab, 4)
        assert kb == sorted(kb) and len({s for _, _, s in kb}) == len(kb)
        # brute-force enumeration of ALL segmentations -> global top-k
        n = len(word)
        all_segs = []
        for cuts_n in range(n):
            for cuts in combinations(range(1, n), cuts_n):
                bounds = [0, *cuts, n]
                pieces = [word[a:b] for a, b in zip(bounds, bounds[1:])]
                if any(len(p) > 4 or p not in vocab for p in pieces):
                    continue
                all_segs.append(
                    (sum(vocab[p] for p in pieces), len(pieces), ",".join(pieces))
                )
        assert kb == sorted(all_segs)[:k]

    prop()


def test_unigram_sampled_pick_matches_hash(spark):
    """The sampled segmentation is the md5-uniform draw from the
    n-best list — replicate the pick python-side per word."""
    from mpi_word_count_spark.functions.hashing import py_hash32
    from mpi_word_count_spark.operators.bpe import (
        UNIGRAM_NBEST_K,
        unigram_nbest_segments,
        unigram_sampled_segments,
    )

    docs = spark.createDataFrame(
        [(1, "aa ab aa ba abc"), (2, "ab aa ca abc abc")],
        "doc_id long, text string",
    )
    nbest = {}
    for r in unigram_nbest_segments(docs).collect():
        nbest.setdefault(r["word"], []).append(
            (r["nb_rank"], r["cost"], r["pieces"], r["seg"])
        )
    picked = {r["word"]: r for r in unigram_sampled_segments(docs).collect()}
    assert set(picked) == set(nbest)
    for word, rows in nbest.items():
        rows.sort()
        assert len(rows) <= UNIGRAM_NBEST_K
        want = rows[py_hash32(word, "useg") % len(rows)]
        got = picked[word]
        assert (got["pick"], got["cost"], got["pieces"], got["seg"]) == want
        assert got["n_best"] == len(rows)


def test_wordpiece_greedy_vs_dp_and_coverage(spark):
    """MaxMatch semantics: every piece is a vocab member, pieces
    concatenate back to the word, and greedy can be STRICTLY worse
    than the DP optimum (the planted vocab where taking the longest
    prefix 'ab' forces 3 pieces but a|bcd is 2)."""
    from mpi_word_count_spark.operators.bpe import (
        _unigram_dp,
        _wordpiece_greedy,
    )

    vocab = {"a", "b", "c", "d", "ab", "bcd"}
    n, seg = _wordpiece_greedy("abcd", vocab, max_piece=4)
    assert (n, seg) == (3, "ab,c,d")
    unit = {p: 1 for p in vocab}
    assert _unigram_dp("abcd", unit, 4)[1] == 2  # a|bcd beats greedy

    from mpi_word_count_spark.operators.bpe import wordpiece_segment_stats

    docs = spark.createDataFrame(
        [(1, "aa ab aab ba abc cab"), (2, "ab aa ca abc abcab")],
        "doc_id long, text string",
    )
    rows = wordpiece_segment_stats(docs).collect()
    assert rows
    for r in rows:
        pieces = r["seg"].split(",")
        assert "".join(pieces) == r["word"]
        assert r["n_pieces"] == len(pieces)
        assert r["n_chars"] == len(r["word"])
