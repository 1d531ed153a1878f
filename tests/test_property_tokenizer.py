"""Property-based lock on the tokenizer semantics (S1-S3) and the
widen() partition planner.

The C reference tokenizer (tokenizer.c:47-79) emits maximal runs of
non-delimiter characters; the alphabet is LITERAL BYTES (tokenizer.c:
22-27), never regex, and whitespace always delimits. Our Spark mapping
compiles the alphabet into a regex character class — the escaping in
`delimiter_regex` is the one hand-written piece that could silently
diverge (e.g. `-` forming a range, `[`/`]`/`^`/`\\` leaking syntax,
Java's `&&` class intersection). Hypothesis drives random alphabets
(biased toward those metacharacters) and random texts against a
10-line pure-Python model of the C loop.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mpi_word_count_spark.tokenizer import (
    WHITESPACE_DELIMITERS,
    split_words,
    tokenize,
)

# Metacharacter-heavy pool: every char that needs escaping in a Java
# regex class, Java's class-intersection `&`, plus ordinary bytes.
DELIM_POOL = "[]^-\\&|().*+?{}$!\"#%',/:;<=>@_`~az0 \t\n\r"
TEXT_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "[]^-\\&|().*+?{}$!\"#%',/:;<=>@_`~ \t\n\r"
)


def model_tokenize(text: str, alphabet: str) -> list[str]:
    """The C loop (tokenizer.c:47-79): maximal non-delimiter runs,
    lowered (S2), empties impossible by construction (S3)."""
    delims = set(alphabet)
    words: list[str] = []
    cur: list[str] = []
    for ch in text:
        if ch in delims:
            if cur:
                words.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        words.append("".join(cur))
    return [w.lower() for w in words]


@settings(max_examples=15, deadline=None)
@given(
    delims=st.sets(st.sampled_from(DELIM_POOL), min_size=0, max_size=12),
    texts=st.lists(
        st.text(alphabet=TEXT_ALPHABET, max_size=80), min_size=1, max_size=6
    ),
)
def test_tokenizer_matches_c_model(spark, delims, texts):
    # whitespace is ALWAYS prepended (tokenizer.c:21), any alphabet
    alphabet = "".join(dict.fromkeys(WHITESPACE_DELIMITERS + "".join(delims)))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    rows = df.select("i", split_words("text", alphabet).alias("toks")).collect()
    got = {r["i"]: [w.lower() for w in r["toks"]] for r in rows}
    want = {i: model_tokenize(t, alphabet) for i, t in enumerate(texts)}
    assert got == want

    # tokenize() (the wrapper: explode + lower + drop-empty) agrees as
    # a per-doc multiset
    tok_rows = tokenize(df, delimiters=alphabet, keep=["i"]).collect()
    got_ms: dict[int, list[str]] = {i: [] for i in want}
    for r in tok_rows:
        got_ms[r["i"]].append(r["word"])
    assert {i: sorted(v) for i, v in got_ms.items()} == {
        i: sorted(v) for i, v in want.items()
    }


def test_widen_is_noop_on_wide_input(spark):
    """widen() must add NO shuffle when the scan already has >= default
    parallelism splits — the property that makes it safe at 100 TB
    (operators/__init__.py)."""
    from mpi_word_count_spark.operators import widen

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).repartition(target)
    assert widen(wide) is wide  # identity: no new plan node at all
    wider = spark.range(10_000).repartition(target + 4)
    assert widen(wider) is wider
    assert widen(wider).rdd.getNumPartitions() == target + 4


def test_widen_widens_narrow_input(spark):
    from mpi_word_count_spark.operators import widen

    narrow = spark.range(10_000).coalesce(1)
    assert widen(narrow).rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )


# ---------------------------------------------------------------------------
# PPJoin exactness on random corpora: the prefix-filtered join must
# equal the naive all-pairs token-set Jaccard for ANY corpus and ANY
# threshold (it is an optimization, not an approximation). Small
# alphabet forces heavy set overlap — the adversarial regime for
# prefix filtering (the rarest-first prefix is least selective).
# ---------------------------------------------------------------------------

WORD_POOL = ["ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen"]


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(WORD_POOL), min_size=0, max_size=12),
        min_size=2,
        max_size=12,
    ),
    threshold_pct=st.sampled_from([50, 60, 70, 80, 90, 100]),
)
def test_ppjoin_exact_on_random_corpora(spark, docs, threshold_pct):
    from itertools import combinations

    from mpi_word_count_spark.operators.dedup import ppjoin_pairs

    rows = [(i + 1, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["d1"], r["d2"]): r["n_common"]
        for r in ppjoin_pairs(
            df, threshold_pct=threshold_pct, shingle_n=None
        ).collect()
    }
    sets = {i + 1: set(w for w in words) for i, words in enumerate(docs)}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and 100 * inter >= threshold_pct * union:
            want[(a, b)] = inter
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    prefix_a=st.lists(st.sampled_from(WORD_POOL), min_size=0, max_size=6),
    prefix_b=st.lists(st.sampled_from(WORD_POOL), min_size=0, max_size=6),
    run=st.lists(st.sampled_from(WORD_POOL), min_size=8, max_size=14),
)
def test_winnowing_guarantee_on_random_shared_runs(
    spark, prefix_a, prefix_b, run
):
    # any shared token run of length >= w+k-1 (= 8 with k=4, w=5) MUST
    # yield a shared winnowed fingerprint, wherever it sits in either
    # document — the MOSS guarantee under random context
    from mpi_word_count_spark.operators.dedup import winnowing_fingerprints

    rows = [
        (1, " ".join(prefix_a + run)),
        (2, " ".join(prefix_b + run + ["tailword"])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sel = winnowing_fingerprints(df, k=4, w=5).collect()
    by_doc: dict[int, set[str]] = {}
    for r in sel:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc.get(1, set()) & by_doc.get(2, set())


def test_widen_probe_decides_but_df_repartitions(spark):
    """widen(probe=...) (round 9, the dedup_clusters fix): the WIDTH
    decision comes from the probe relation — so a composite frame
    never gets physically planned just to count partitions — while
    the repartition still applies to df itself."""
    from pyspark.sql import functions as F

    from mpi_word_count_spark.operators import widen

    target = spark.sparkContext.defaultParallelism
    narrow_base = spark.range(1_000).coalesce(1)
    ids = spark.range(100).select(F.col("id"))
    decorated = narrow_base.join(F.broadcast(ids), "id", "left_semi")
    # narrow probe -> df repartitioned to full parallelism
    out = widen(decorated, probe=narrow_base)
    assert out is not decorated
    assert out.rdd.getNumPartitions() == target
    # wide probe -> identity on df, whatever df's own width is
    wide_base = spark.range(1_000).repartition(target)
    decorated2 = wide_base.join(F.broadcast(ids), "id", "left_semi")
    assert widen(decorated2, probe=wide_base) is decorated2
