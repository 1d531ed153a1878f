"""Iterative PageRank (operators/graph.py): exact integer recurrence
vs a pure-Python reference on a handcrafted graph, ranking sanity, and
plan shape. The full fixture-graph pipeline is additionally
hash-verified against the unrolled DuckDB oracle in
tests/test_oracle_parity.py (trade_graph_pagerank)."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from mpi_word_count_spark.operators.graph import (
    DAMPING_DEN,
    DAMPING_NUM,
    pagerank_fixed_point,
)

# a small undirected graph: hub 0 — {1,2,3}, plus the 4—5 dumbbell
UNDIRECTED = [(0, 1), (0, 2), (0, 3), (4, 5)]


def both_orientations():
    return UNDIRECTED + [(b, a) for a, b in UNDIRECTED]


def python_pagerank(edges, iterations, scale):
    """The operator's recurrence in plain ints — the ground truth the
    distributed version must hit bit-for-bit."""
    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    base = (scale * (DAMPING_DEN - DAMPING_NUM)) // DAMPING_DEN
    rank = {v: scale for v in out}
    for _ in range(iterations):
        recv = defaultdict(int)
        for u, nbrs in out.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                recv[v] += c
        rank = {v: base + (DAMPING_NUM * s) // DAMPING_DEN for v, s in recv.items()}
    return rank


def run_spark_pagerank(spark, iterations, scale=10**6):
    edges = spark.createDataFrame(both_orientations(), "src long, dst long")
    ranks = pagerank_fixed_point(edges, iterations=iterations, scale=scale)
    return {r["node"]: r["rank_fp"] for r in ranks.collect()}


def test_matches_python_recurrence_exactly(spark):
    for iters in (1, 3, 6):
        expect = python_pagerank(both_orientations(), iters, 10**6)
        got = run_spark_pagerank(spark, iters)
        assert got == expect, f"iterations={iters}"


def test_ranking_semantics(spark):
    got = run_spark_pagerank(spark, 6)
    # the hub outranks its leaves; symmetric leaves tie exactly
    assert got[0] > got[1]
    assert got[1] == got[2] == got[3]
    # the isolated dumbbell pair ties and sits between leaf and hub
    assert got[4] == got[5]
    # integer fixed point only truncates: total mass never grows
    assert sum(got.values()) <= 6 * 10**6


def test_iteration_plan_has_no_quadratic_join(spark):
    edges = spark.createDataFrame(both_orientations(), "src long, dst long")
    ranks = pagerank_fixed_point(edges, iterations=2, scale=10**6)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    # each round is an equi-join + hash aggregation; a lineage-truncated
    # round plan must stay O(1) — scanning the prior round's RDD, never
    # re-deriving it
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_counts_match_bruteforce(spark):
    from itertools import combinations

    from mpi_word_count_spark.operators.graph import triangle_counts

    # K4 on {0..3} + a pendant (3—4) + a triangle-free path (5—6—7)
    edges = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (3, 4), (5, 6), (6, 7),
    ]
    eset = {frozenset(e) for e in edges}
    nodes = sorted({n for e in edges for n in e})
    expect = {}
    for n in nodes:
        deg = sum(1 for e in eset if n in e)
        nbrs = [m for m in nodes if frozenset((n, m)) in eset]
        tri = sum(
            1 for a, b in combinations(nbrs, 2) if frozenset((a, b)) in eset
        )
        expect[n] = (deg, tri)

    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: (r["degree"], r["triangles"])
        for r in triangle_counts(df).collect()
    }
    assert got == expect  # K4 nodes: 3 triangles each; path: 0


def test_triangle_plan_is_all_equi_joins(spark):
    from mpi_word_count_spark.operators.graph import triangle_counts

    df = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "a long, b long")
    plan = (
        triangle_counts(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kcore_path_peels_to_empty_cycle_survives(spark):
    """The defining k-core cascade: a path has NO 2-core (endpoints
    peel first, exposing new endpoints every round — a genuinely
    multi-round cascade), while a cycle IS its own 2-core (every node
    keeps degree 2, nothing ever peels)."""
    from mpi_word_count_spark.operators.graph import kcore_peel

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "a long, b long"
    )
    # 8-node path, k=2: peel depth is ceil(n/2) = 4 rounds
    assert kcore_peel(path, k=2, rounds=4).count() == 0

    cycle = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)], "a long, b long"
    )
    got = {
        r["node"]: r["core_degree"]
        for r in kcore_peel(cycle, k=2, rounds=4).collect()
    }
    assert got == {i: 2 for i in range(8)}


def test_kcore_fixed_rounds_cover_convergence(spark):
    """The registered query's fixed depth must COVER the fixture's
    peel depth: one extra round changes nothing, so the fixed-round
    result equals the true k-core."""
    from mpi_word_count_spark.queries.graph_queries import (
        _KCORE_K,
        _KCORE_ROUNDS,
    )
    from mpi_word_count_spark.operators.graph import kcore_peel
    from mpi_word_count_spark.tables import table

    o = table(spark, "orders", SF_DIR)
    li = table(spark, "lineitem", SF_DIR)
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    at_rounds = {
        (r["node"], r["core_degree"])
        for r in kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS).collect()
    }
    one_more = {
        (r["node"], r["core_degree"])
        for r in kcore_peel(
            edges, k=_KCORE_K, rounds=_KCORE_ROUNDS + 1
        ).collect()
    }
    assert at_rounds == one_more
    assert at_rounds  # the fixture 10-core is non-empty
    # and the peel is non-vacuous: some node was actually removed
    all_nodes = (
        edges.select(F.col("a").alias("n"))
        .union(edges.select(F.col("b").alias("n")))
        .distinct()
        .count()
    )
    assert len(at_rounds) < all_nodes


def test_kcore_plan_has_no_quadratic_join(spark):
    from mpi_word_count_spark.operators.graph import kcore_peel

    df = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "a long, b long")
    plan = (
        kcore_peel(df, k=2, rounds=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """Seeded teleport must rank the seeds' neighborhood above the
    global form's flat profile: seeds hold the highest customer ranks,
    and total mass is concentrated (top-5 customers carry a larger
    rank share than under global pagerank)."""
    from mpi_word_count_spark.queries.graph_queries import (
        _PPR_SEED_MAX_CUSTKEY,
        q_personalized_pagerank,
        q_trade_graph_pagerank,
    )
    from tests.conftest import SF_DIR

    ppr = {
        (r["node_type"], r["key"]): r["rank_fp"]
        for r in q_personalized_pagerank(spark, SF_DIR).collect()
    }
    seeds = {
        ("customer", k) for k in range(1, _PPR_SEED_MAX_CUSTKEY + 1)
    }
    cust_ranks = sorted(
        ((k, v) for k, v in ppr.items() if k[0] == "customer"),
        key=lambda kv: -kv[1],
    )
    top5 = {k for k, _ in cust_ranks[:_PPR_SEED_MAX_CUSTKEY]}
    assert top5 == seeds, top5
    glob = {
        (r["node_type"], r["key"]): r["rank_fp"]
        for r in q_trade_graph_pagerank(spark, SF_DIR).collect()
    }

    def share(ranks):
        tot = sum(ranks.values())
        return sum(ranks.get(s, 0) for s in seeds) / tot

    assert share(ppr) > 3 * share(glob)


def test_label_propagation_separates_components_deterministically(spark):
    """Two disjoint cliques must converge to two communities labeled
    by each clique's minimum node id; a star collapses to the hub's
    label in one round (self-loop damping, min-label tie-break)."""
    from mpi_word_count_spark.operators.graph import label_propagation

    def undirected(pairs):
        rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
        return spark.createDataFrame(rows, "src long, dst long")

    cliques = undirected(
        [(2, 4), (4, 6), (2, 6), (1, 3), (3, 5), (1, 5)]
    )
    got = {r["node"]: r["label"] for r in label_propagation(cliques).collect()}
    assert got == {2: 2, 4: 2, 6: 2, 1: 1, 3: 1, 5: 1}

    star = undirected([(0, 2), (0, 4), (0, 6)])
    got = {r["node"]: r["label"] for r in label_propagation(star, rounds=1).collect()}
    assert got == {0: 0, 2: 0, 4: 0, 6: 0}


def test_label_propagation_ignores_native_self_loops(spark):
    """Self-loops already in the input must not count a node's own
    label twice: adding them leaves every community unchanged. On the
    star, a doubled self-vote would let each leaf keep its own label
    (2 votes against the hub's 1)."""
    from mpi_word_count_spark.operators.graph import label_propagation

    def undirected(pairs):
        rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
        return spark.createDataFrame(rows, "src long, dst long")

    def communities(edges, rounds):
        return {r["node"]: r["label"] for r in label_propagation(edges, rounds=rounds).collect()}

    for pairs, rounds in (
        ([(0, 2), (0, 4), (0, 6)], 1),
        ([(2, 4), (4, 6), (2, 6), (1, 3), (3, 5), (1, 5), (6, 7)], 4),
    ):
        plain = undirected(pairs)
        nodes = plain.select("src").distinct()
        looped = plain.union(nodes.select("src", F.col("src").alias("dst")))
        assert communities(looped, rounds) == communities(plain, rounds)


ITERATIVE_OPERATORS = (
    "pagerank_fixed_point",
    "kcore_peel",
    "label_propagation",
    "bellman_ford",
    "hits_fixed_point",
    "dup_clusters",
    "dup_clusters_twostar",
)


@pytest.mark.parametrize("op", ITERATIVE_OPERATORS)
def test_iterative_operator_releases_every_checkpoint(spark, op):
    """After release_caches() none of the seven checkpointed loops
    leaves a persisted RDD behind: not its materialized input, not an
    intermediate round, not the surviving round state (label
    propagation used to keep its round-3 labels). Each loop runs long
    enough to checkpoint round state on its cadence (HITS checkpoints
    only its input). The result stays referenced until after the
    release, so a JVM GC cannot free a leaked checkpoint first."""
    from mpi_word_count_spark.operators import dedup, graph, release_caches

    from tests.conftest import persisted_rdd_ids

    directed = spark.createDataFrame(both_orientations(), "src long, dst long")
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 3), (1, 2), (5, 6)], "d1 long, d2 long")
    calls = {
        "pagerank_fixed_point": lambda: [graph.pagerank_fixed_point(directed)],
        "kcore_peel": lambda: [
            graph.kcore_peel(
                spark.createDataFrame([(0, 1), (0, 2), (1, 2), (2, 3)], "a long, b long"),
                k=2,
                rounds=3,
            )
        ],
        "label_propagation": lambda: [graph.label_propagation(directed)],
        "bellman_ford": lambda: [
            graph.bellman_ford(
                directed.withColumn("w", F.lit(1).cast("long")),
                spark.createDataFrame([(0,)], "node long"),
            )
        ],
        "hits_fixed_point": lambda: list(graph.hits_fixed_point(directed)),
        "dup_clusters": lambda: [dedup.dup_clusters(docs, pairs)],
        "dup_clusters_twostar": lambda: [dedup.dup_clusters_twostar(docs, pairs)],
    }
    release_caches()
    before = persisted_rdd_ids(spark)
    results = calls[op]()
    for df in results:
        assert df.collect()
    release_caches()
    assert persisted_rdd_ids(spark) - before == set()
