"""Semantic properties of the curation operators beyond oracle parity:
split consistency within clusters, shard position contiguity, mixture
determinism, empty-benchmark behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from mpi_word_count_spark.operators.curation import (
    benchmark_contamination,
    cluster_aware_split,
    corpus_mixture,
    shuffled_shards,
)
from mpi_word_count_spark.tables import table
from tests.conftest import SF_DIR


def test_contamination_empty_benchmark_flags_nothing(spark):
    docs = table(spark, "documents", SF_DIR)
    out = benchmark_contamination(docs, F.lit(False))
    assert out.count() == 0


def test_contamination_self_overlap_is_total(spark):
    # a doc IS the benchmark → every long-enough doc sharing its text
    # n-grams gets contamination 1.0; here: duplicate texts
    rows = [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j"),
            (3, "completely different words one two three four five six seven")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = benchmark_contamination(docs, F.col("doc_id") == 1, n=8).collect()
    assert [(r["doc_id"], r["contamination"]) for r in out] == [(2, 1.0)]


def test_shard_positions_contiguous(spark):
    docs = table(spark, "documents", SF_DIR)
    out = shuffled_shards(docs, num_shards=8)
    per_shard = (
        out.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"), F.min("pos").alias("lo"),
             F.max("pos").alias("hi"), F.countDistinct("pos").alias("d"))
        .collect()
    )
    assert len(per_shard) > 1  # hash actually spreads docs
    for r in per_shard:
        # positions are exactly 1..n within every shard
        assert (r["lo"], r["hi"], r["d"]) == (1, r["n"], r["n"])
    # the permutation is total and disjoint
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()


def test_cluster_members_never_straddle_split(spark):
    docs = table(spark, "documents", SF_DIR)
    # synthetic clusters: bucket doc_ids so clusters have >1 member
    clusters = docs.select(
        "doc_id", (F.col("doc_id") % 50).alias("cluster_id")
    )
    out = cluster_aware_split(docs, clusters)
    distinct_splits = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .agg(F.max("k"))
        .first()[0]
    )
    assert distinct_splits == 1  # every cluster lands on one side
    sides = {r["split"] for r in out.select("split").distinct().collect()}
    assert sides == {"train", "val"}


def test_mixture_is_deterministic_and_bounded(spark):
    docs = table(spark, "documents", SF_DIR)
    w = {"en": 0.5}
    a = {(r["stratum"], r["n_kept"]) for r in corpus_mixture(docs, w).collect()}
    b = {(r["stratum"], r["n_kept"]) for r in corpus_mixture(docs, w).collect()}
    assert a == b  # hash sampling: bit-identical across runs
    rates = {r["stratum"]: r for r in corpus_mixture(docs, w).collect()}
    # en downweighted to ~0.5, everything else kept at 1.0 exactly
    assert rates["en"]["n_kept"] < rates["en"]["n_docs"]
    for lang, r in rates.items():
        if lang != "en":
            assert r["n_kept"] == r["n_docs"]


def test_quota_sample_exact_and_repartition_invariant(spark):
    """quota_sample's determinism claim: the selected (id, pos)
    assignment must be IDENTICAL under any physical partitioning
    (retries/splits reshuffle rows freely at scale), and each stratum
    yields exactly min(quota, stratum size) rows with pos 1..n."""
    from mpi_word_count_spark.operators.curation import quota_sample

    docs = table(spark, "documents", SF_DIR)
    base = {
        (r["doc_id"], r["stratum"], r["pos"])
        for r in quota_sample(docs, quota=7, stratum_col="source").collect()
    }
    reparted = {
        (r["doc_id"], r["stratum"], r["pos"])
        for r in quota_sample(
            docs.repartition(13, "lang"), quota=7, stratum_col="source"
        ).collect()
    }
    assert base == reparted
    per_stratum = {}
    for _, stratum, pos in base:
        per_stratum.setdefault(stratum, []).append(pos)
    sizes = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for stratum, positions in per_stratum.items():
        expect = min(7, sizes[stratum])
        assert sorted(positions) == list(range(1, expect + 1)), stratum


def test_hash_order_rank_growth_stability(spark):
    """Appending new docs must not reorder EXISTING docs relative to
    each other (hash order, not arrival order): ranks of old docs
    change only by new docs hashing between them — pairwise order of
    the old population is preserved."""
    from mpi_word_count_spark.operators.curation import hash_order_rank

    docs = table(spark, "documents", SF_DIR).select("doc_id", "source")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    grown = docs  # old ∪ new

    def order_of(df):
        out = {}
        for r in hash_order_rank(df, "source", seed="quota").collect():
            out.setdefault(r["source"], []).append((r["pos"], r["doc_id"]))
        return {
            k: [d for _, d in sorted(v)] for k, v in out.items()
        }

    old_order = order_of(old)
    new_ids = {r["doc_id"] for r in docs.filter(F.col("doc_id") % 3 == 0).collect()}
    grown_order = {
        k: [d for d in v if d not in new_ids] for k, v in order_of(grown).items()
    }
    assert old_order == grown_order


def test_token_budget_selection_matches_global_greedy(spark):
    """The two-pass (bucket offsets + within-bucket window)
    decomposition must equal the single global greedy cumsum the
    oracle runs: same docs, same cumulative totals, budget never
    exceeded, and the selection is a PREFIX of the (score desc,
    doc_id) order — no doc outside the prefix sneaks in."""
    from mpi_word_count_spark.queries.curation_queries import (
        TOKEN_BUDGET,
        q_token_budget_selection,
    )

    got = {
        r["doc_id"]: (r["score_milli"], r["n_tokens"], r["cum_tokens"])
        for r in q_token_budget_selection(spark, SF_DIR).collect()
    }
    # python greedy replica over the raw table, tokenized with the
    # engine's own delimiter alphabet
    import re

    from mpi_word_count_spark.tokenizer import delimiter_regex

    rx = re.compile(delimiter_regex())
    docs = table(spark, "documents", SF_DIR).select("doc_id", "text").collect()
    scored = []
    for r in docs:
        toks = [t for t in rx.split(r["text"].lower()) if t]
        if toks:
            scored.append(
                (1000 * len(set(toks)) // len(toks), r["doc_id"], len(toks))
            )
    scored.sort(key=lambda x: (-x[0], x[1]))
    cum, want = 0, {}
    for score, doc_id, n in scored:
        cum += n
        if cum > TOKEN_BUDGET:
            break
        want[doc_id] = (score, n, cum)
    assert got == want
    assert max(c for _, _, c in got.values()) <= TOKEN_BUDGET


def test_contrastive_triplets_properties(spark):
    """Negatives are deterministic, in-range, and the clean flag is
    honest: a triplet marked clean must have a negative that is not
    the anchor/positive and not a known near-dup of either."""
    from tests.conftest import SF_DIR

    from mpi_word_count_spark.queries.curation_queries import (
        q_contrastive_triplets,
    )
    from mpi_word_count_spark.queries.dedup_queries import q_minhash_lsh_dups
    from mpi_word_count_spark.tables import table

    rows = q_contrastive_triplets(spark, SF_DIR).collect()
    assert rows
    again = q_contrastive_triplets(spark, SF_DIR).collect()
    assert rows == again  # deterministic end to end
    n_docs = table(spark, "documents", SF_DIR).count()
    dup_pairs = {
        (r["d1"], r["d2"]) for r in q_minhash_lsh_dups(spark, SF_DIR).collect()
    }
    assert {(r["anchor"], r["positive"]) for r in rows} == dup_pairs
    for r in rows:
        assert 0 <= r["negative"] < n_docs
        clean = (
            r["negative"] != r["anchor"]
            and r["negative"] != r["positive"]
            and (min(r["anchor"], r["negative"]), max(r["anchor"], r["negative"]))
            not in dup_pairs
            and (
                min(r["positive"], r["negative"]),
                max(r["positive"], r["negative"]),
            )
            not in dup_pairs
        )
        assert r["negative_clean"] == clean


def test_vocab_drift_monitor_finds_planted_tokens(spark):
    from tests.conftest import SF_DIR

    from mpi_word_count_spark.queries.curation_queries import (
        q_vocab_drift_monitor,
    )

    rows = q_vocab_drift_monitor(spark, SF_DIR).collect()
    assert len(rows) == 10
    words = [r["word"] for r in rows]
    # the planted v2-only tokens must be the top movers (absent in v1)
    assert "drift" in words and "revised" in words
    for r in rows:
        if r["word"] in ("drift", "revised"):
            assert r["count_v1"] == 0 and r["count_v2"] > 0
    # ranking is by tv_num descending
    tvs = [r["tv_num"] for r in rows]
    assert tvs == sorted(tvs, reverse=True)


def test_temperature_mixture_flattens_toward_uniform(spark):
    """T=2 sampling must sit strictly between the natural distribution
    and uniform: head languages shrink, tail languages grow, shares
    sum to ~1, planned docs conserve the total within rounding."""
    from tests.conftest import SF_DIR

    from mpi_word_count_spark.queries.curation_queries import (
        q_temperature_mixture_plan,
    )

    rows = q_temperature_mixture_plan(spark, SF_DIR).collect()
    n_langs = len(rows)
    uniform = 1.0 / n_langs
    total_share = sum(r["sampled_share"] for r in rows)
    assert abs(total_share - 1.0) < 1e-3
    total = sum(r["n_docs"] for r in rows)
    assert total - n_langs <= sum(r["planned_docs"] for r in rows) <= total
    for r in rows:
        nat = r["natural_share_ppm"] / 1e6
        if nat > uniform:
            assert uniform < r["sampled_share"] < nat, r
        elif nat < uniform:
            assert nat < r["sampled_share"] < uniform, r


def test_neyman_allocation_sums_to_budget_and_orders_by_nh_sh(spark):
    from tests.conftest import SF_DIR

    from mpi_word_count_spark.queries.curation_queries import (
        _NEYMAN_BUDGET,
        q_neyman_allocation_plan,
    )

    rows = q_neyman_allocation_plan(spark, SF_DIR).collect()
    assert sum(r["sample_size"] for r in rows) == _NEYMAN_BUDGET
    # allocations follow N_h * S_h ordering within +-1 (largest
    # remainder can flip exact ties only)
    weighted = sorted(rows, key=lambda r: -r["stratum_rows"] * r["sd_milli"])
    sizes = [r["sample_size"] for r in weighted]
    assert all(a >= b - 1 for a, b in zip(sizes, sizes[1:]))
    assert all(r["sample_size"] > 0 for r in rows)


def test_consistent_hash_resharding_properties(spark):
    """Movement bounds: the ring moves close to the ideal 1/17 (well
    under 3x it), mod-hash moves nearly everything; exactly the docs
    claimed by the new shard move on the ring (movement == docs
    assigned to shard 16 in the 17-ring)."""
    from tests.conftest import SF_DIR

    from mpi_word_count_spark.queries.curation_queries import (
        q_consistent_hash_resharding,
    )

    rows = {
        r["scheme"]: r
        for r in q_consistent_hash_resharding(spark, SF_DIR).collect()
    }
    ring = rows["consistent_ring"]
    mod = rows["mod_hash"]
    assert ring["n_docs"] == mod["n_docs"]
    ideal = ring["n_docs"] / 17
    assert ring["docs_moved"] <= 3 * ideal
    assert mod["docs_moved"] >= 0.8 * mod["n_docs"]
    assert ring["docs_moved"] < mod["docs_moved"] / 5


def test_dsir_weights_rank_targetlike_docs_higher(spark):
    """Planted distribution shift: the target set talks about one
    domain, raw docs either match it or don't. DSIR's importance
    log-weight must rank the target-like raw document above the
    off-domain one (the paper's selection property), and weights must
    exist for every raw doc with tokens."""
    from pyspark.sql import functions as F

    from mpi_word_count_spark.operators.curation import (
        dsir_importance_weights,
    )

    target_text = "solar panels convert sunlight into electric power"
    rows = [
        # target set (ids divisible by 7)
        (0, target_text),
        (7, "solar power arrays store sunlight energy in batteries"),
        (14, "electric grids balance solar generation with demand"),
        # raw: on-domain vs off-domain
        (1, "solar panels and electric power from sunlight energy"),
        (2, "medieval knights rode armored horses into castle sieges"),
        (3, "the recipe folds butter into flour with cold water"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_importance_weights(
            df, F.col("doc_id") % 7 == 0
        ).collect()
    }
    assert set(w) == {1, 2, 3}
    assert w[1] > w[2] and w[1] > w[3], w


def test_greedy_source_coverage_keeps_the_callers_holds(spark):
    """A query frees nothing its caller still holds: a dedup_clusters
    result built before greedy_source_coverage runs still executes
    after it. Freeing held frames is the caller's release_caches(),
    which also frees greedy_source_coverage's own per-round state."""
    import __spark_entry__ as entrymod

    from mpi_word_count_spark.operators import release_caches

    queries = entrymod.queries()
    release_caches()
    held = queries["dedup_clusters"](spark, SF_DIR)
    n = held.count()
    assert queries["greedy_source_coverage"](spark, SF_DIR).count() > 0
    assert held.count() == n
    release_caches()
