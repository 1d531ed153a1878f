"""Focused tests for round-11 text-query internals: the RRF
adjacent-pair proximity expression and the edit-distance length band
— both claim bit-identical results to the form they replaced, so each
is pinned against a brute-force reference here (the oracle sweep pins
the end-to-end queries)."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from mpi_word_count_spark.queries.text_queries import _min_diff_word_dist


def _brute_min_diff_word_dist(hits: list[tuple[int, str]]) -> int | None:
    """All-pairs reference: min |pos_i - pos_j| over different-word
    pairs — exactly the old positional self-join's aggregate."""
    best = None
    for (p1, w1), (p2, w2) in itertools.combinations(hits, 2):
        if w1 != w2:
            d = abs(p1 - p2)
            best = d if best is None or d < best else best
    return best


def test_min_diff_word_dist_matches_all_pairs(spark):
    # hand cases: empty, single, all-same-word, the adjacency
    # argument's interesting case (closest pair not first), and
    # same-word runs between different-word hits
    cases = [
        [],
        [(3, "a")],
        [(1, "a"), (9, "a"), (20, "a")],
        [(1, "a"), (9, "a"), (10, "b")],       # closest pair at the end
        [(1, "a"), (2, "b"), (50, "a")],       # closest pair at the start
        [(1, "a"), (5, "a"), (6, "a"), (7, "b"), (30, "c")],
        [(2, "x"), (4, "y"), (6, "x"), (8, "y")],
    ]
    # plus randomized sequences over 3 words (the BM25_TERMS shape)
    rng = random.Random(42)
    for _ in range(40):
        n = rng.randint(0, 12)
        pos = sorted(rng.sample(range(1, 200), n))
        cases.append([(p, rng.choice("abc")) for p in pos])

    rows = [(i, [{"pos": p, "word": w} for p, w in c]) for i, c in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "case_id long, hits array<struct<pos:int, word:string>>"
    )
    got = {
        r["case_id"]: r["d"]
        for r in df.select(
            "case_id", _min_diff_word_dist(F.col("hits")).alias("d")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _brute_min_diff_word_dist(c), (i, c)


def test_edit_distance_length_band_is_lossless(spark):
    """The banded candidate join must return exactly the brute-force
    result: every pair with >= min_shared shingles and prefix edit
    distance <= max_distance, with identical n_shared counts —
    including near-threshold length differences (the band boundary)
    and pairs the band prunes."""
    from mpi_word_count_spark.operators.dedup import (
        edit_distance_pairs,
        shingles_from_tokens,
        tokens_col,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (1, base),
        (2, base + " lambda"),                      # tiny length diff
        (3, base + " pad pad"),                     # within the band
        (4, base + " " + "x" * 60),                 # beyond max_distance=20
        (5, "unrelated words entirely different content here today"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    max_d, min_shared, prefix = 20, 3, 256

    got = {
        (r["d1"], r["d2"]): (r["n_shared"], r["edit_distance"])
        for r in edit_distance_pairs(
            df, max_distance=max_d, min_shared_shingles=min_shared,
            prefix_chars=prefix,
        ).collect()
    }

    # brute force over all pairs, straight from the definition
    sh = {
        r["doc_id"]: set(r["s"])
        for r in df.select(
            "doc_id", shingles_from_tokens(tokens_col("text"), 3).alias("s")
        ).collect()
    }
    lev_rows = df.alias("x").crossJoin(df.alias("y")).filter(
        F.col("x.doc_id") < F.col("y.doc_id")
    ).select(
        F.col("x.doc_id").alias("d1"),
        F.col("y.doc_id").alias("d2"),
        F.levenshtein(
            F.substring("x.text", 1, prefix), F.substring("y.text", 1, prefix)
        ).alias("lev"),
    ).collect()
    want = {}
    for r in lev_rows:
        shared = len(sh[r["d1"]] & sh[r["d2"]])
        if shared >= min_shared and r["lev"] <= max_d:
            want[(r["d1"], r["d2"])] = (shared, r["lev"])

    assert want, "reference must be non-empty or the test is vacuous"
    assert got == want
    # the band boundary did its job: (1,4) shares the full base
    # shingles but differs in prefix length by 61 > max_d — pruned by
    # the band AND (by the Levenshtein lower bound) absent from brute
    # force
    assert (1, 4) not in got


def test_rrf_index_released_and_never_written_to_disk(spark):
    """hybrid_rrf_retrieval materializes its compact index through the
    operators' one materialization path: after a collect,
    release_caches() leaves no persisted RDD the call made, and no
    rrf_index_* scratch directory is ever written."""
    import glob
    import os
    import tempfile

    import __spark_entry__ as entrymod
    from mpi_word_count_spark.operators import release_caches

    from tests.conftest import SF_DIR, persisted_rdd_ids

    def scratch_dirs() -> set[str]:
        tmp = tempfile.gettempdir()
        return set(glob.glob(os.path.join(tmp, "rrf_index_*"))) | set(
            glob.glob(os.path.join(tmp, "*", "rrf_index_*"))
        )

    scratch_before = scratch_dirs()
    release_caches()
    before = persisted_rdd_ids(spark)
    assert entrymod.queries()["hybrid_rrf_retrieval"](spark, SF_DIR).collect()
    release_caches()
    assert persisted_rdd_ids(spark) - before == set()
    assert scratch_dirs() == scratch_before


@pytest.mark.parametrize("name", ["bigram_pmi", "ppjoin_dups", "greedy_source_coverage"])
def test_held_intermediates_released(spark, name):
    """Every intermediate a query holds goes through materialize(): after
    a collect, release_caches() leaves no persisted RDD the call made."""
    import __spark_entry__ as entrymod
    from mpi_word_count_spark.operators import release_caches

    from tests.conftest import SF_DIR, persisted_rdd_ids

    release_caches()
    before = persisted_rdd_ids(spark)
    assert entrymod.queries()[name](spark, SF_DIR).collect()
    release_caches()
    assert persisted_rdd_ids(spark) - before == set()
