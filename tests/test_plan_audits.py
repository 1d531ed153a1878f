"""Physical-plan audits: lock in the optimizer properties SCALE.md
claims, so a refactor that silently loses pushdown / broadcast / the
top-k heap / map-side partial aggregation fails CI, not the 100 TB
run. Mostly driver-side (explain, no execution). The exception is a
query that holds an intermediate (operators.materialize or the
iterate() loops): building its plan runs those jobs, and plan_of
audits the intermediates' plans along with the query's."""

from __future__ import annotations

import contextlib
import io

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

QUERIES = entrymod.queries()


def explained(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    """The query's formatted plan, then the plan of every intermediate
    it checkpoints while it is built: the query's own plan reads a
    checkpoint as a scan of its blocks, so an audit of that plan alone
    would not see what the checkpoint ran."""
    from mpi_word_count_spark import operators

    checkpoint = operators._checkpoint
    held_plans = []

    def recording(df):
        held_plans.append(explained(df))
        return checkpoint(df)

    operators._checkpoint = recording
    try:
        plan = explained(QUERIES[name](spark, SF_DIR))
    finally:
        operators._checkpoint = checkpoint
    return "\n".join([plan, *held_plans])


def pushed_filters(plan: str) -> list[str]:
    return [
        line.strip()
        for line in plan.splitlines()
        if "PushedFilters" in line and "PushedFilters: []" not in line.strip()
    ]


def test_q1_filter_pushdown_and_column_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert any("l_shipdate" in f for f in pushed_filters(plan))
    # column pruning: the scan schema must not include unused columns
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q6_all_predicates_reach_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    pushed = " ".join(pushed_filters(plan))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_star_joins_broadcast(spark):
    for name in ("q3_top_revenue_orders", "q5_regional_revenue"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        # the fact-fact join must NOT broadcast the fact table: at
        # fixture scale AQE may pick broadcast, so assert only that no
        # cartesian appears
        assert "CartesianProduct" not in plan, name


def test_topk_uses_heap_not_global_sort(spark):
    plan = plan_of(spark, "wordcount_topk")
    assert "TakeOrderedAndProject" in plan


def test_wordcount_partial_aggregation(spark):
    # map-side combine (the reference's hash_map.c:69-79): a partial
    # HashAggregate must appear BEFORE the exchange, and the exchange
    # must carry the aggregated (word) key, not raw tokens
    plan = plan_of(spark, "wordcount")
    partial = plan.find("partial_count")
    word_exchange = plan.find("hashpartitioning(word")
    assert 0 < partial, "no partial aggregate in plan"
    assert 0 < word_exchange, "no word-keyed exchange in plan"
    assert partial < word_exchange, "no map-side partial aggregation"


def test_hash_sample_pushes_filter(spark):
    plan = plan_of(spark, "hash_sample_documents")
    # the deterministic-sample predicate is a scan-level filter: no
    # shuffle anywhere in the plan
    assert "Exchange" not in plan


def test_curation_plan_shapes(spark):
    # contamination: benchmark shingles broadcast, corpus never
    # self-joined (no cartesian / nested-loop anywhere)
    plan = plan_of(spark, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # shuffled shards: the permutation must sort WITHIN hash
    # partitions (global=false), never range-partition globally
    plan = plan_of(spark, "shuffled_shards")
    assert "rangepartitioning" not in plan.lower()
    # mixture audit: pure per-row hash predicate + one tiny group agg
    plan = plan_of(spark, "corpus_mixture")
    # formatted explain lists each node once in the tree ("+- Exchange")
    # and once in the details ("(4) Exchange") — count tree entries
    assert plan.count("+- Exchange") == 1


def test_round4_curation_additions_plan_shapes(spark):
    # semantic contamination: bench bands + bench vectors broadcast,
    # corpus never self-joined or nested-looped
    plan = plan_of(spark, "semantic_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # epoch reshuffle: per-shard sort only — a global range sort would
    # be the 100 TB scale-killer the design avoids
    plan = plan_of(spark, "epoch_shuffled_batches")
    assert "rangepartitioning" not in plan.lower()
    # PII scrub: pure narrow projection — any Exchange means a regex
    # stage started shuffling text
    plan = plan_of(spark, "pii_redaction_stats")
    assert "+- Exchange" not in plan


def test_no_quadratic_joins_in_registered_dedup_plans(spark):
    # every registered dedup pipeline must generate candidates via a
    # hash equi-join (banded/bucketed keys) — an O(n²) theta join over
    # the corpus (CartesianProduct / BroadcastNestedLoopJoin) is a
    # 100 TB scale-killer even when fixture-correct
    for name in (
        "exact_dedup",
        "ngram_jaccard_dups",
        "minhash_lsh_dups",
        "simhash_dups",
        "simhash_banded_dups",
        "embedding_dups",
        "dedup_clusters",
        "dedup_clusters_twostar",
        "edit_distance_dups",
        "incremental_exact_dedup",
        "incremental_embedding_dups",
        "media_phash_dups",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_lsh_candidate_join_is_an_equi_join(spark):
    # the MinHash consumers read their candidates materialized, so the
    # band self-join is out of their plans: audit it on its own
    from mpi_word_count_spark.operators.dedup import lsh_candidates, minhash_signatures
    from mpi_word_count_spark.tables import table

    plan = explained(lsh_candidates(minhash_signatures(table(spark, "documents", SF_DIR))))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin Inner" in plan or "HashJoin Inner" in plan


def test_incremental_embedding_dups_batch_side_broadcasts(spark):
    # the continuous-ingest contract: candidate generation and
    # verification broadcast the BATCH side (band keys, candidate id
    # pairs, batch vectors); the corpus is only ever the probe side of
    # broadcast hash joins — it is never shuffled and never self-joined
    plan = plan_of(spark, "incremental_embedding_dups")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # no shuffle-side (sort-merge / shuffled-hash) join anywhere: every
    # join in the plan rides a broadcast of batch-derived relations
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_semantic_dedup_is_equi_join(spark):
    # the pairwise cosine check must ride the cluster equi-join (the
    # SemDeDup point); a nested-loop over the corpus is the scale-killer
    plan = plan_of(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_scores_two_agg_shuffles(spark):
    # one tokenization, tagged grams exploded once, ONE conditional
    # rollup — a per-gram-order re-aggregation would add a third
    # Exchange (caught here before it costs a shuffle at 100 TB)
    plan = plan_of(spark, "repetition_scores")
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") <= 4  # 2 agg + broadcast + 1 widen
    assert tree.count("Generate") == 1  # single explode pass
    assert "CartesianProduct" not in plan


def test_partitioned_rollup_prunes_partitions(spark):
    plan = plan_of(spark, "partitioned_events_rollup")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("event_type" in ln for ln in pf)


def test_ann_partitioned_layout_uses_dynamic_partition_pruning(spark):
    # the write-time ANN layout only pays off if query-time candidate
    # selection prunes bucket DIRECTORIES — the corpus scan must carry
    # a dynamicpruningexpression on the partition column
    plan = plan_of(spark, "ann_lsh_partitioned")
    assert "dynamicpruning" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("bucket" in ln and "dynamicpruning" in ln for ln in pf)


def test_funnel_single_user_exchange(spark):
    # the three chained step minima must reuse ONE user_id exchange:
    # tree = user shuffle + per-user collapse reuse + 1-row final agg
    # (plus the widen exchange at the scan). A plan that re-shuffles
    # per step would show an Exchange per window pass.
    plan = plan_of(spark, "user_event_funnel")
    tree = plan.split("(1) Scan")[0]
    assert tree.count("hashpartitioning(user_id") <= 1, tree
    assert "CartesianProduct" not in plan


def test_concurrency_sweep_has_no_overlap_join(spark):
    # the sweep-line must never materialize the sessions-x-hours
    # overlap join the oracle runs — spine join is an equi-join on h
    plan = plan_of(spark, "session_concurrency_hourly")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_duplicate_passages_single_hash_shuffle(spark):
    # tokenize/window/md5 are narrow; the only non-widen exchanges
    # carry the 16-byte passage hash (partial agg before each)
    plan = plan_of(spark, "duplicate_passages")
    tree = plan.split("(1) Scan")[0]
    for line in tree.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "passage_hash" in line, line
    assert "Generate" in plan  # explode, not a join fan-out
    assert "CartesianProduct" not in plan


def test_trailing_week_range_frame_single_shuffle(spark):
    plan = plan_of(spark, "trailing_week_revenue")
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") <= 2  # supplier shuffle (+ widen)
    assert "RangeFrame" in plan  # a value frame, not a ROWS frame


def test_overlap_pairs_tiled_equi_join(spark):
    # interval-overlap must ride the (customer, tile) equi-join with
    # the canonical-tile filter — no theta-join fallback and no
    # dedup aggregate (the canonical tile makes pairs unique for free)
    plan = plan_of(spark, "overlapping_order_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    tree = plan.split("(1) Scan")[0]
    assert "HashAggregate" not in tree or "partial_max" in plan  # only the max(l_shipdate) agg


def test_weighted_sample_has_partial_window_group_limit(spark):
    # the ES top-k must keep a map-side partial WindowGroupLimit so
    # the stratum exchange carries at most k rows per task, not the
    # whole stratum (the 100 TB property weighted_sample documents)
    plan = plan_of(spark, "weighted_sample_by_length")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan
    # and the scan is pruned to the three used columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read_schema and "lang" not in read_schema


def test_curriculum_single_partition_only_after_aggregation(spark):
    # the exact-CDF design: the only SinglePartition exchange runs on
    # the tiny length histogram (downstream of the count aggregate),
    # never on the document table itself; the histogram side must
    # broadcast back to the full table
    plan = plan_of(spark, "curriculum_batches")
    assert "BroadcastHashJoin" in plan
    before_single = plan.split("Exchange SinglePartition")[0]
    assert "HashAggregate" in before_single or "Exchange SinglePartition" not in plan


def test_embedding_norms_arrow_scan_pruned(spark):
    # mapInArrow must not defeat column pruning: the explicit
    # (vec_id, embedding) projection reaches the parquet scan
    plan = plan_of(spark, "embedding_norms")
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "label" not in read_schema
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan


def test_runtime_bloom_filter_joins_available(spark):
    """Spark's runtime Bloom-filter join injection — the optimizer
    feature that turns a selective dim filter into a pre-shuffle
    bloom probe on the 100 TB fact side. At fixture scale the
    application side is far below the 10 GB activation threshold, so
    the test lowers it to emulate the production condition; what's
    asserted is the INJECTION (bloom_filter_agg built from the dim
    keys, might_contain applied on the fact side before its shuffle),
    which is exactly the plan a real cluster gets for free."""
    from pyspark.sql import functions as F

    saved = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": None,
        "spark.sql.autoBroadcastJoinThreshold": None,
    }
    for k in saved:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "1",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_new_similarity_plans_have_no_allpairs_kernels(spark):
    # the round-4 additions must keep the equi-join discipline the
    # dedup family is audited for: no cartesian / nested-loop joins
    for name in (
        "ppjoin_dups",
        "sorted_neighborhood_dups",
        "winnowing_dups",
        "positional_index",
        "doc_novelty_scores",
        "source_overlap_matrix",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_budget_selection_broadcasts_offsets(spark):
    # the two-pass cumsum decomposition: bucket offsets reach the
    # corpus join as a BROADCAST, and no global sort of scored docs
    # exists (the single-partition window runs over <=1001 bucket
    # rows, upstream of the broadcast, never over the corpus)
    plan = plan_of(spark, "token_budget_selection")
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" not in plan.lower()


def test_hybrid_rrf_rankings_reduce_before_fusion(spark):
    # fusion joins two <=50-row rank lists: the full-outer join must
    # be a sort-merge/hash join, never a nested loop. The ONE allowed
    # nested-loop is BM25's 1-row stats cross join (the house 1-row
    # broadcast pattern, same as bm25_scores)
    plan = plan_of(spark, "hybrid_rrf_retrieval")
    # the 1-row stats cross join appears once per pass of the BM25
    # subtree — the bucket-offset rank reads it twice (counts pass +
    # data pass; the identical exchange is reused at runtime). Both
    # are BuildRight Cross against a single-row broadcast, fine at
    # any scale; anything beyond those two is a regression. Count the
    # formatted-explain DETAIL headers "(N) BroadcastNestedLoopJoin"
    # so each operator is counted once, not tree+detail twice.
    import re

    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan and "SortMergeJoin FullOuter" in plan


def test_hof_sampler_is_scan_local(spark):
    """The array-HOF projection must stay inside the scan stage: no
    Exchange, no Python evaluation — every lambda is a JVM codegen
    expression."""
    plan = plan_of(spark, "hof_array_sampler")
    assert "Exchange" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_udtf_ngrams_aggregates_after_generate(spark):
    """The UDTF fans out inside the scan stage; the only shuffle is
    the trigram count aggregation (partial agg before the exchange)."""
    plan = plan_of(spark, "udtf_char_ngrams")
    assert "PythonUDTF" in plan or "Generate" in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # agg + sort
    assert "partial_count" in plan or "HashAggregate" in plan


def test_lateral_subquery_decorrelates_to_aggregate_join(spark):
    """Catalyst must decorrelate the LATERAL aggregate subquery into
    an aggregate-then-join plan — never a per-row nested loop over
    the orders table."""
    plan = plan_of(spark, "lateral_order_stats")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "Join" in plan


def test_no_cartesian_product_anywhere_in_the_registry(spark):
    """Registry-wide guard: NO registered query's physical plan may
    contain a CartesianProduct. 1-row broadcast crossJoins compile to
    BroadcastNestedLoopJoin (constant side, fine at any scale) — a
    CartesianProduct means two genuinely multi-row relations paired
    without keys, which no query here should ever need. Side-effecting
    queries (streaming run-to-completion, sink roundtrips) are skipped:
    their plan properties are asserted in their own tests and building
    them here would execute writes."""
    skip_prefixes = ("streaming_",)
    skip_exact = {
        "csv_roundtrip",
        "jsonl_roundtrip",
        "xml_roundtrip",
        "orc_roundtrip",
        "manifest_sink_roundtrip",
        "manifest_time_travel",
        "jsonl_schema_evolution",
        "rdd_wordcount",
        "synthetic_corpus_wordcount",
        "incremental_wordcount",
        "compaction_manifest",
        "console_lines",
    }
    # Registry-wide window guard shares the same plan pass: ANY
    # unpartitioned window — rank family (the round-4 scale
    # anti-pattern) OR cumulative sum/avg/count (round-5 verdict item
    # 3) — funnels its whole input through ONE WindowExec partition.
    # Allowed only when the window input is an aggregate over a
    # BOUNDED key, so the funneled relation is dashboard-sized at any
    # corpus scale. Every allowlist entry names its bounded domain;
    # the structural tripwire is the flagged Window node's input
    # width (<=6 cols — the aggregated-bucket-table shape; raw-table
    # windows carry the full projection). Boundedness itself is a
    # human judgment recorded per allowlist entry — the plan text
    # can't prove a key's domain is bounded.
    offenders = []
    for name in sorted(QUERIES):
        if name.startswith(skip_prefixes) or name in skip_exact:
            continue
        try:
            plan = plan_of(spark, name)
        except Exception as exc:  # noqa: BLE001 — surface as failure
            offenders.append(f"{name}: explain failed: {exc}")
            continue
        if "CartesianProduct" in plan:
            offenders.append(name)
        flagged = _unpartitioned_window_nodes(plan)
        if not flagged:
            continue
        if name not in UNPART_WINDOW_ALLOWED:
            offenders.append(
                f"{name}: unpartitioned window(s) {[a for _, a in flagged]}"
                " — single-partition funnel; partition it, decompose via"
                " operators/ranking.py, or allowlist with a boundedness"
                " justification"
            )
            continue
        for width, args in flagged:
            if width > 6:
                offenders.append(
                    f"{name}: allowlisted but window input is {width} cols"
                    f" — not the aggregated-bucket-table shape"
                    f" ({args[:80]})"
                )
    assert not offenders, offenders


# Unpartitioned windows whose input is PROVABLY bounded: each value
# names the bounded key the window's input is aggregated over (the
# domain that stays dashboard-sized at 100 TB). Anything not listed
# here fails test_no_cartesian_product_anywhere_in_the_registry.
UNPART_WINDOW_ALLOWED = {
    # rank family over bounded heads (round-5 allowlist, kept)
    "zipf_fit": "rank over the top-100k TakeOrdered head",
    # round-10: time-/value-domain-bounded series windows
    "events_cusum_changepoint": (
        "cumsum + row_number over the dense hour spine — bounded by"
        " the TIME SPAN, not the corpus (2-col series input)"
    ),
    "theil_sen_trend": (
        "cumsum over the pairwise-slope histogram — slope-domain-"
        "bounded (milli-quantized), the KS/AUC histogram shape"
    ),
    "revenue_gini": (
        "ranking.py bucket-offset cumsum over $100k revenue buckets"
        " (the data window is partitioned by bucket)"
    ),
    "runs_test": (
        "cumsum over the series-value histogram + one lag over the"
        " dense hour spine — both time-/value-domain-bounded"
    ),
    "neyman_allocation_plan": (
        "largest-remainder rank + cumsum over STRATA rows (one per"
        " event_type)"
    ),
    # cumulative sums over aggregated bucket tables. The bucket-offset
    # rank decomposition (operators/ranking.py) trades a global rank
    # window over N rows for a partitioned rank + ONE cumsum over the
    # per-bucket count table (|buckets| rows, fixed by quantization).
    "customer_rfm_segments": (
        "ranking.py bucket-offset cumsum over R/F/M value buckets"
    ),
    "order_price_deciles": (
        "ranking.py bucket-offset cumsum over price buckets"
    ),
    "hybrid_rrf_retrieval": (
        "ranking.py bucket-offset cumsum over score buckets"
    ),
    "hilbert_skipping_audit": (
        "ranking.py bucket-offset cumsum over curve-key buckets"
    ),
    "zorder_skipping_audit": (
        "ranking.py bucket-offset cumsum over curve-key buckets"
    ),
    "sorted_neighborhood_dups": (
        "ranking.py bucket-offset cumsum over SNM sort-key buckets"
    ),
    "curriculum_batches": (
        "cumsum over per-difficulty-bucket counts (quantized difficulty"
        " domain, operators/curation.py)"
    ),
    "curriculum_layout_audit": "same bounded bucket cumsum as curriculum_batches",
    "vocab_growth": "cumsum over corpus-order buckets (fixed bucket count)",
    "session_concurrency_hourly": (
        "cumsum of +1/-1 deltas over the HOUR domain (dataset timespan"
        " in hours)"
    ),
    "seq_length_histogram": "cumsum over fixed histogram bucket edges",
    "token_budget_selection": (
        "cumsum over per-score-bucket token totals (score quantization"
        " domain)"
    ),
    "value_auc_audit": (
        "cumulative-negatives window over the per-score (pos, neg)"
        " histogram — score domain is milli-quantized and bounded"
    ),
    "value_ks_test": (
        "two cumulative-count windows over the same score-domain-"
        "bounded histogram as value_auc_audit"
    ),
}


def _unpartitioned_window_nodes(plan: str) -> list[tuple[int, str]]:
    """Every Window node in a formatted plan whose spec has NO
    partition columns (first windowspecdefinition argument is already
    an ordering spec or the frame itself), returned as (input_width,
    window_args). Catches rank windows AND cumulative aggregates —
    both funnel their whole input into one partition."""
    import re

    out = []
    for node in re.finditer(
        r"\(\d+\) Window(?:GroupLimit)?\s*\nInput \[(\d+)\][^\n]*\n"
        r"Arguments: \[([^\n]*)\]",
        plan,
    ):
        width, args = int(node.group(1)), node.group(2)
        for spec in re.finditer(r"windowspecdefinition\(([^,)]+)", args):
            first = spec.group(1).strip()
            if (
                " ASC" in first
                or " DESC" in first
                or first.startswith("specifiedwindowframe")
            ):
                out.append((width, args))
                break
    return out


def _unpartitioned_rank_windows(plan: str) -> list[str]:
    """Every row_number()/rank()/dense_rank()/ntile(k)
    windowspecdefinition whose FIRST argument is already an ordering
    spec (contains ASC/DESC) — i.e. a rank window with NO partition
    columns, the single-partition scale anti-pattern. Partitioned
    specs lead with bare partition columns instead."""
    import re

    out = []
    for m in re.finditer(
        r"(?:row_number\(\)|rank\(\)|dense_rank\(\)|ntile\(\d+\))"
        r" windowspecdefinition\(([^,)]+)",
        plan,
    ):
        first_arg = m.group(1)
        if " ASC" in first_arg or " DESC" in first_arg:
            out.append(first_arg.strip())
    return out


def test_q11_q15_scalar_aggregates_reuse_the_exchange(spark):
    """Round-6 rewrite contract: Q11/Q15 compute their global scalar
    (total/max over the per-key aggregate) as a 1-row broadcast
    aggregate instead of an unpartitioned window. The scalar branch
    must read the per-key aggregate's shuffle via ReusedExchange —
    ONE lineitem scan at runtime, not two. (Static explain doesn't
    show reuse under AQE; assert on the executed plan.)"""
    for name in ("q11_important_parts", "q15_top_suppliers"):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()  # a noop write runs a SEPARATE execution; only
        # an action on df itself finalizes df's own adaptive plan
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in executed, name
        assert "ReusedExchange" in executed, name
        assert "Window" not in executed, name


def test_unpartitioned_window_detector_fires(spark):
    """Anti-vacuity check for the registry-wide guard: the detector
    must flag a deliberately-global rank window AND a global cumsum,
    and must NOT flag their partitioned twins."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).withColumn("g", F.col("id") % 5)

    def fmt(frame):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frame.explain("formatted")
        return buf.getvalue()

    global_rank = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    assert _unpartitioned_window_nodes(fmt(global_rank))

    global_cumsum = df.withColumn(
        "c", F.sum("id").over(Window.orderBy("id"))
    )
    assert _unpartitioned_window_nodes(fmt(global_cumsum))

    part_rank = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert not _unpartitioned_window_nodes(fmt(part_rank))

    part_cumsum = df.withColumn(
        "c", F.sum("id").over(Window.partitionBy("g").orderBy("id"))
    )
    assert not _unpartitioned_window_nodes(fmt(part_cumsum))


def test_retrieval_ranks_are_never_global_windows(spark):
    """Round-4 verdict item 5: at 100 TB every term-matching document
    funnels into ONE WindowExec partition under a global row_number.
    bm25_scores must rank via the TakeOrdered heap (no rank window at
    all); hybrid_rrf_retrieval's exact rank columns must come from the
    bucket-offset decomposition (row_number windows partitioned by
    bucket); zipf_fit may keep a rank window only over the
    constant-bounded top-N head (TakeOrdered upstream)."""
    bm = plan_of(spark, "bm25_scores")
    assert "TakeOrderedAndProject" in bm
    assert "row_number() windowspecdefinition(" not in bm
    assert not _unpartitioned_rank_windows(bm)

    rrf = plan_of(spark, "hybrid_rrf_retrieval")
    assert "TakeOrderedAndProject" in rrf  # the final fusion top-k
    assert "row_number() windowspecdefinition(" in rrf  # exact ranks
    assert not _unpartitioned_rank_windows(rrf), rrf

    zipf = plan_of(spark, "zipf_fit")
    # the head truncation heap runs BEFORE the bounded rank window
    assert "TakeOrderedAndProject" in zipf


def test_dsir_model_fit_broadcasts_ratio_table(spark):
    """DSIR's scale contract: the bucket log-ratio table (<=4096
    rows) must reach the scoring join as a BROADCAST, and the model
    fit must partial-aggregate before its exchange — never a shuffle
    of raw grams to a single reducer, never a cartesian."""
    for name in ("dsir_importance_weights", "dsir_gumbel_sample"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "partial_count" in plan or "HashAggregate" in plan, name
    # the gumbel sample's top-k is a heap, not a sort or rank window
    assert "TakeOrderedAndProject" in plan_of(spark, "dsir_gumbel_sample")


def test_margin_alignment_windows_partition_by_query_id(spark):
    """Margin mining scores ONE A-x-B table (broadcast nested-loop
    against the broadcast side — the ann_bruteforce convention) and
    both kNN rank windows must partition by their query id; the
    registry-wide guard already rejects unpartitioned rank windows,
    this pins the broadcast discipline too."""
    plan = plan_of(spark, "margin_knn_alignment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # scored A-x-B, one side broadcast
    assert not _unpartitioned_rank_windows(plan), plan


def test_term_scan_census_single_arrow_pass(spark):
    # the Aho-Corasick scan is ONE Arrow projection over the corpus
    # (no per-pattern scans, no pre-scan shuffle); the only exchanges
    # are the lexicon-sized aggregate + broadcast completion join
    plan = plan_of(spark, "term_scan_census")
    # the formatted plan prints each node twice (tree line + detail
    # section): exactly ONE MapInPandas node = exactly two mentions
    assert plan.count("MapInPandas") == 2
    assert "CartesianProduct" not in plan
    # corpus scan feeds the Arrow op directly: no Exchange may appear
    # between the parquet scan and MapInPandas (projection order in
    # the formatted plan: scan node id > MapInPandas node id means
    # scan is its child subtree; cheap structural proxy — count total
    # exchange NODES instead: groupBy(pattern) agg + final sort = at
    # most 3 (doubled mentions: tree line + detail section)
    assert plan.count("Exchange") <= 6


def test_acf_single_corpus_shuffle(spark):
    # one partial-aggregated groupBy(hour) sees the corpus; the spine
    # self-joins ride broadcasts — no sort-merge join of the corpus
    plan = plan_of(spark, "events_autocorrelation")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_transition_matrix_partitioned_window(spark):
    # the lag window is per-user (partitioned); the row-total join is
    # a broadcast of the model-sized matrix
    plan = plan_of(spark, "event_transition_matrix")
    assert "CartesianProduct" not in plan
    assert _unpartitioned_window_nodes(plan) == []


def test_mad_windows_are_brand_partitioned(spark):
    plan = plan_of(spark, "brand_price_mad_outliers")
    assert "CartesianProduct" not in plan
    assert _unpartitioned_window_nodes(plan) == []


def test_sssp_rounds_are_join_plus_agg(spark):
    # bounded-round Bellman-Ford: no cartesian, no nested-loop join;
    # every relaxation is an equi-join + partial-agg min
    plan = plan_of(spark, "trade_graph_sssp")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_link_prediction_topk_is_heap(spark):
    # the top-k must be TakeOrdered (per-partition heap + driver
    # merge), never a global sort or an unpartitioned rank window
    plan = plan_of(spark, "supplier_link_prediction")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert _unpartitioned_window_nodes(plan) == []
