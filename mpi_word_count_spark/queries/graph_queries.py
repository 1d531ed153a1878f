"""Iterative graph analytics queries: fixed-round integer-fixed-point
PageRank over the customer–supplier trade graph.

The Spark side is the Pregel-style one-shuffle-per-round loop
(operators/graph.py); the oracle unrolls the SAME integer recurrence
as a chained CTE per round, so an inherently iterative algorithm is
value-hash-verified — the same technique the k-means oracles use
(queries/similarity_queries.py), but over a graph recurrence. Integer
fixed point makes the match exact: int64 sums are associative, so
engine/partition summation order cannot perturb any digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.graph import (
    DAMPING_DEN,
    DAMPING_NUM,
    DEFAULT_ITERATIONS,
    DEFAULT_SCALE,
    kcore_peel,
    pagerank_fixed_point,
    trade_graph_edges,
    triangle_counts,
)
from mpi_word_count_spark.registry import register
from mpi_word_count_spark.tables import table


def _pagerank_rounds(
    iterations: int, scale: int, base_sql: str | None = None
) -> str:
    """The unrolled integer PageRank recurrence as chained CTEs
    r1..rN over generic `bi` (edge rows, multiplicity = weight),
    `deg`, and `r0` CTEs — shared by every pagerank oracle so the
    recurrence text cannot drift between graphs. base_sql overrides
    the per-node teleport term (referencing `b.dst`) — the
    personalized form restricts it to the seed set."""
    base = (scale * (DAMPING_DEN - DAMPING_NUM)) // DAMPING_DEN
    bterm = base_sql if base_sql is not None else str(base)
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(
            f"""r{i} AS (
        SELECT b.dst AS node,
               CAST({bterm}
                 + ({DAMPING_NUM} * sum(r.rank_fp // d.outdeg))
                   // {DAMPING_DEN} AS BIGINT) AS rank_fp
        FROM bi b
        JOIN r{i - 1} r ON b.src = r.node
        JOIN deg d ON d.src = b.src
        GROUP BY 1, b.dst
    )"""
        )
    return ",\n    ".join(rounds)


def _pagerank_oracle(
    iterations: int = DEFAULT_ITERATIONS, scale: int = DEFAULT_SCALE
) -> str:
    chain = _pagerank_rounds(iterations, scale)
    return f"""
    WITH e AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    bi AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src, count(*) AS outdeg FROM bi GROUP BY 1),
    r0 AS (SELECT DISTINCT src AS node, CAST({scale} AS BIGINT) AS rank_fp
           FROM bi),
    {chain}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS key,
           rank_fp
    FROM r{iterations}
    """


@register("trade_graph_pagerank", oracle=_pagerank_oracle())
def q_trade_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer↔supplier graph (an edge
    wherever a customer's order has a lineitem from that supplier),
    6 fixed rounds, damping 85/100, integer fixed point at 1e-12.

    High-rank suppliers are the hub vendors of the trade network —
    the graph-centrality complement to q15_top_suppliers' revenue
    ranking. Per round: one equi-join on src + one partially-
    aggregated shuffle on dst; ranks are 16 bytes/node (scale
    argument in operators/graph.py docstring).
    """
    orders = table(spark, "orders", sf_dir)
    lineitem = table(spark, "lineitem", sf_dir)
    ranks = pagerank_fixed_point(trade_graph_edges(orders, lineitem))
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("key"),
        F.col("rank_fp"),
    )


@register(
    "trade_graph_degrees",
    oracle="""
    WITH e AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    bi AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
            FROM bi GROUP BY 1),
    bucketed AS (
        SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                   AS node_type,
               (1::BIGINT << (length(bin(degree)) - 1)) AS bucket_lo,
               (1::BIGINT << length(bin(degree))) AS bucket_hi,
               degree
        FROM deg
    )
    SELECT node_type, bucket_lo, bucket_hi,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(max(degree) AS BIGINT) AS max_degree
    FROM bucketed GROUP BY 1, 2, 3
    """,
)
def q_trade_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph in power-of-two buckets
    (integer bit-length, no libm) — the first thing to look at before
    any graph job: the degree histogram decides whether PageRank's
    fixed-point SCALE fits (graph.py overflow bound) and whether a
    skew hub needs salting. One edge shuffle + one degree shuffle;
    buckets, not nodes, leave the final exchange."""
    orders = table(spark, "orders", sf_dir)
    lineitem = table(spark, "lineitem", sf_dir)
    deg = (
        trade_graph_edges(orders, lineitem)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.select(
            F.when(F.col("src") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr(
                "shiftleft(cast(1 as bigint), length(bin(degree)) - 1)"
            ).alias("bucket_lo"),
            F.expr(
                "shiftleft(cast(1 as bigint), length(bin(degree)))"
            ).alias("bucket_hi"),
            "degree",
        )
        .groupBy("node_type", "bucket_lo", "bucket_hi")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
    )


def _keyword_pagerank_oracle(
    iterations: int = DEFAULT_ITERATIONS, scale: int = DEFAULT_SCALE
) -> str:
    from mpi_word_count_spark.registry import sql_regex

    chain = _pagerank_rounds(iterations, scale)
    return f"""
    WITH toks AS (
        SELECT list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    fwd AS (
        SELECT t[i] AS src, t[i + 1] AS dst
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
    ),
    bi AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
    deg AS (SELECT src, count(*) AS outdeg FROM bi GROUP BY 1),
    r0 AS (SELECT DISTINCT src AS node, CAST({scale} AS BIGINT) AS rank_fp
           FROM bi),
    {chain}
    SELECT node AS word, rank_fp
    FROM r{iterations}
    """


@register("keyword_pagerank", oracle=_keyword_pagerank_oracle())
def q_keyword_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank-style keyword ranking: integer fixed-point PageRank
    over the word adjacency graph (bigram co-occurrence, both
    orientations, edge multiplicity = co-occurrence weight — the
    duplicate edge rows make pagerank_fixed_point weighted for free,
    since out-degree counts rows and each row contributes
    rank div outdeg). Reuses the trade-graph recurrence verbatim on
    STRING nodes — the operator never does node arithmetic, so the
    same Pregel loop serves any key type.

    Scale shape: edge generation is a narrow pair-explode (no
    doc-level shuffle); the graph collapses to vocabulary-sized rank
    tables (Heaps-sublinear), so six rounds of join+aggregate run
    over vocab rows, not corpus rows.
    """
    from mpi_word_count_spark.operators import widen
    from mpi_word_count_spark.operators.dedup import tokens_col

    docs = table(spark, "documents", sf_dir)
    toks = widen(docs).select(tokens_col("text").alias("_toks"))
    pair_expr = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 1),
            lambda i: F.struct(
                F.element_at(F.col("_toks"), i).alias("src"),
                F.element_at(F.col("_toks"), i + 1).alias("dst"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))
    fwd = toks.select(F.explode(pair_expr).alias("p")).select("p.src", "p.dst")
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank_fixed_point(edges)
    return ranks.select(F.col("node").alias("word"), "rank_fp")


@register(
    "supplier_graph_triangles",
    oracle="""
    WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (
        SELECT a.l_suppkey AS ea, b.l_suppkey AS eb
        FROM s a
        JOIN s b ON a.l_orderkey = b.l_orderkey
                AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT ea AS node FROM e UNION ALL SELECT eb FROM e)
        GROUP BY 1
    ),
    ok AS (SELECT node, degree * 4294967296 + node AS ordk FROM deg),
    oe AS (
        SELECT CASE WHEN oa.ordk < ob.ordk THEN e.ea ELSE e.eb END AS src,
               CASE WHEN oa.ordk < ob.ordk THEN e.eb ELSE e.ea END AS dst,
               greatest(oa.ordk, ob.ordk) AS dst_ord
        FROM e
        JOIN ok oa ON oa.node = e.ea
        JOIN ok ob ON ob.node = e.eb
    ),
    tri AS (
        SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM oe e1
        JOIN oe e2 ON e1.src = e2.src AND e1.dst_ord < e2.dst_ord
        JOIN oe e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    tc AS (
        SELECT node, CAST(count(*) AS BIGINT) AS triangles
        FROM (SELECT u AS node FROM tri
              UNION ALL SELECT v FROM tri
              UNION ALL SELECT w FROM tri)
        GROUP BY 1
    )
    SELECT d.node AS suppkey, d.degree,
           CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN d.degree >= 2
                THEN (20000 * coalesce(t.triangles, 0))
                     // (d.degree * (d.degree - 1))
                ELSE 0 END AS BIGINT) AS clustering_bp
    FROM deg d LEFT JOIN tc t ON t.node = d.node
    """,
)
def q_supplier_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient per supplier over
    the co-supply backbone graph: an edge between two suppliers that
    appear together in >= 3 orders (the same min-support cut as
    supplier_basket_rules, which keeps the graph a sparse backbone
    instead of the near-complete raw co-occurrence graph).

    Clustering coefficient is emitted in integer basis points —
    20000·tri div (deg·(deg−1)) — so the hash comparison is exact;
    tightly-knit supplier communities (high clustering_bp) are where
    basket RULES generalize, while high-degree/low-clustering nodes
    are pure hubs.

    Scale shape: edges generate in-row per basket (advanced_queries
    pattern, fan-out bounded by basket size), then the oriented wedge
    join is O(m^1.5) worst-case by the degree-orientation argument in
    operators/graph.py:triangle_counts — never the raw hub wedge
    explosion. The all-join DuckDB oracle replicates the SAME
    orientation arithmetic, so the hash verifies wedge enumeration,
    closure, and the coefficient's integer division bit for bit.
    """
    li = table(spark, "lineitem", sf_dir)
    s = li.select("l_orderkey", "l_suppkey").distinct()
    baskets = (
        s.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    ss = F.col("ss")
    pairs_col = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ss) - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(ss)),
                lambda j: F.struct(
                    F.element_at(ss, i).alias("a"),
                    F.element_at(ss, j).alias("b"),
                ),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pairs_col).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
        .select("a", "b")
    )
    out = triangle_counts(edges)
    return out.select(
        F.col("node").alias("suppkey"),
        "degree",
        "triangles",
        F.when(
            F.col("degree") >= 2,
            F.expr("(20000 * triangles) div (degree * (degree - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("clustering_bp"),
    )


_KCORE_K = 10
_KCORE_ROUNDS = 4


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unroll the fixed-round peel: one (degree-filter, edge-filter)
    CTE pair per round — the same device as the pagerank oracles, but
    every CTE is MATERIALIZED: each round references its predecessor
    THREE times (degree scan + both endpoint probes), so the default
    inlining would re-plan the base join 3^rounds times — the oracle
    twin of the per-round lineage truncation kcore_peel needs."""
    parts = [
        "e0 AS MATERIALIZED ("
        "SELECT DISTINCT o_custkey * 2 AS ea, l_suppkey * 2 + 1 AS eb"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"
    ]
    for i in range(rounds):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node FROM"
            f" (SELECT ea AS node FROM e{i}"
            f" UNION ALL SELECT eb AS node FROM e{i})"
            f" GROUP BY node HAVING count(*) >= {k})"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT ea, eb FROM e{i}"
            f" JOIN d{i} da ON da.node = e{i}.ea"
            f" JOIN d{i} db ON db.node = e{i}.eb)"
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS entity_key,
           CAST(count(*) AS BIGINT) AS core_degree
    FROM (SELECT ea AS node FROM e{rounds}
          UNION ALL SELECT eb AS node FROM e{rounds})
    GROUP BY 1, 2
    ORDER BY node_type, entity_key
    """
    )


@register("trade_graph_kcore", oracle=_kcore_oracle())
def q_trade_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10-core of the bipartite customer↔supplier trade graph:
    survivors of fixed-round degree peeling, with their within-core
    degree — the degeneracy-family backbone extractor (dense-community
    pruning, the standard pre-filter before community detection or
    fraud analysis; peeling thin-degree nodes removes the noise
    fringe that dominates power-law graphs).

    Third member of the iterative-graph family beside the
    fixed-work-per-round Pregel loop (trade_graph_pagerank) and the
    contraction loop (dedup_clusters_twostar): the peel's per-round
    work only ever SHRINKS (each round is one partial-aggregated
    degree count + two semi joins on the survivor set), the loop
    pattern that makes degeneracy algorithms cheap at 100 TB. Rounds
    are fixed at 4 — measured convergence depth is 2 at sf0.001/0.01/
    0.1 (extra rounds are keep-everything no-ops), and convergence at
    this depth is asserted against a rounds+1 run in tests — so the
    DuckDB oracle unrolls the identical recurrence and the survivor
    set + every core degree value-hash-match. Node ids pack entity
    type by parity (graph.py:trade_graph_edges); the output decodes
    them back to (node_type, entity_key)."""
    o = table(spark, "orders", sf_dir)
    li = table(spark, "lineitem", sf_dir)
    # one row per undirected edge; the bipartite column roles make the
    # a<b orientation dedup unnecessary (customer ids are even,
    # supplier ids odd — the endpoint sets are disjoint)
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    core = kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return core.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("entity_key"),
        "core_degree",
    ).orderBy("node_type", "entity_key")


_PPR_SEED_MAX_CUSTKEY = 5


def _ppr_oracle(
    iterations: int = DEFAULT_ITERATIONS, scale: int = DEFAULT_SCALE
) -> str:
    base = (scale * (DAMPING_DEN - DAMPING_NUM)) // DAMPING_DEN
    seed_pred = (
        f"(b.dst % 2 = 0 AND b.dst // 2 BETWEEN 1 AND "
        f"{_PPR_SEED_MAX_CUSTKEY})"
    )
    chain = _pagerank_rounds(
        iterations,
        scale,
        base_sql=f"(CASE WHEN {seed_pred} THEN {base} ELSE 0 END)",
    )
    return f"""
    WITH e AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    bi AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src, count(*) AS outdeg FROM bi GROUP BY 1),
    r0 AS (
        SELECT DISTINCT src AS node,
               CAST(CASE WHEN src % 2 = 0
                          AND src // 2 BETWEEN 1 AND {_PPR_SEED_MAX_CUSTKEY}
                    THEN {scale} ELSE 0 END AS BIGINT) AS rank_fp
        FROM bi
    ),
    {chain}
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS key,
           rank_fp
    FROM r{iterations}
    WHERE rank_fp > 0
    """


@register("personalized_pagerank", oracle=_ppr_oracle())
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank: teleport mass restarts only at a seed
    set (customers 1-5) instead of uniformly, so rank becomes
    relevance-to-the-seeds — the recommendation/expansion primitive
    ('suppliers these customers gravitate to', seed-based retrieval,
    trust propagation) rather than global centrality. Same integer
    fixed-point Pregel loop with two per-node conditionals (r0 and the
    teleport term — a broadcast of the tiny seed table per round);
    zero-mass nodes (unreachable from the seeds within the round
    horizon) are dropped from the output. The oracle unrolls the
    identical seeded recurrence, so personalization is value-hash
    verified exactly like the global form."""
    orders = table(spark, "orders", sf_dir)
    lineitem = table(spark, "lineitem", sf_dir)
    seeds = spark.createDataFrame(
        [(2 * k,) for k in range(1, _PPR_SEED_MAX_CUSTKEY + 1)],
        "node long",
    )
    ranks = pagerank_fixed_point(
        trade_graph_edges(orders, lineitem), seeds=seeds
    )
    return ranks.filter(F.col("rank_fp") > 0).select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("key"),
        F.col("rank_fp"),
    )


# --- label-propagation communities -------------------------------------------

from mpi_word_count_spark.operators.graph import (  # noqa: E402
    LPA_ROUNDS,
    label_propagation,
)


def _lpa_oracle(rounds: int = LPA_ROUNDS) -> str:
    chain = []
    for t in range(1, rounds + 1):
        chain.append(
            f"""l{t} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                       PARTITION BY node ORDER BY cnt DESC, label ASC
                   ) AS rn
            FROM (
                SELECT b.dst AS node, l.label, count(*) AS cnt
                FROM bi2 b JOIN l{t - 1} l ON l.node = b.src
                GROUP BY 1, 2
            ) c
        ) r WHERE rn = 1
    )"""
        )
    return f"""
    WITH e AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    bi AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM bi),
    bi2 AS (SELECT src, dst FROM bi UNION ALL SELECT node, node FROM nodes),
    l0 AS (SELECT node, node AS label FROM nodes),
    {",".join(chain)}
    SELECT label AS community,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(count(CASE WHEN node % 2 = 0 THEN 1 END) AS BIGINT)
               AS n_customers,
           CAST(count(CASE WHEN node % 2 = 1 THEN 1 END) AS BIGINT)
               AS n_suppliers
    FROM l{rounds}
    GROUP BY 1
    """


@register("trade_graph_communities", oracle=_lpa_oracle())
def q_trade_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the customer↔supplier trade graph by
    synchronous label propagation (4 fixed rounds, self-loop damping,
    deterministic count-then-min-label adoption), rolled up to
    (community, size, customers, suppliers) — the market-segmentation
    view PageRank's centrality ranking doesn't give. The oracle
    unrolls the identical all-integer recurrence one CTE block per
    round, so the hash proves every node's label trajectory.

    100 TB shape: per round one src equi-join + one partially-
    aggregated (node, label) count shuffle + one argmax agg; label
    state is 16 bytes/node; lineage truncated on the PageRank cadence
    (operators/graph.py label_propagation)."""
    orders = table(spark, "orders", sf_dir)
    lineitem = table(spark, "lineitem", sf_dir)
    labels = label_propagation(trade_graph_edges(orders, lineitem))
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.count(F.when(F.col("node") % 2 == 0, 1))
        .cast("bigint")
        .alias("n_customers"),
        F.count(F.when(F.col("node") % 2 == 1, 1))
        .cast("bigint")
        .alias("n_suppliers"),
    )


# ---------------------------------------------------------------------------
# link prediction on the co-supply backbone
# ---------------------------------------------------------------------------

_LINKPRED_TOPK = 20

# Wedge fan-out for all-pairs common-neighbor scoring is Σ deg(z)² —
# quadratic in mean degree, and the co-supply graph DENSIFIES with
# corpus scale (at sf0.1 the support>=3 backbone has every supplier at
# degree 329-540: 184M wedges). The support threshold is therefore the
# density knob for THIS query: >=5 keeps the same semantics on a 20x
# sparser backbone (48k edges, 9.3M wedges at sf0.1), and at larger
# corpus scale it is raised further (or per-mid neighbor lists capped)
# to hold wedge volume linear in edges. The triangles query keeps the
# >=3 cut (its degree orientation bounds wedges at O(m^1.5)); exact
# all-pairs CN/RA has no such orientation trick.
_LINKPRED_SUPPORT = 5

# backbone = the shared-orders co-supply cut of supplier_graph_triangles
# at the higher support threshold above;
# the prediction scores two NON-adjacent suppliers by their shared
# neighborhood: common-neighbor count (Newman 2001) and the
# Resource-Allocation index (Zhou, Lü & Zhang 2009) — RA = Σ 1/deg(z)
# over common neighbors z, the degree-penalized variant that wins on
# co-occurrence graphs. RA is emitted in exact integer micro-units
# (Σ 1000000 div deg), so the hash match proves the whole wedge
# enumeration; no transcendentals anywhere.
_LINKPRED_ORACLE = f"""
    WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (
        SELECT a.l_suppkey AS ea, b.l_suppkey AS eb
        FROM s a
        JOIN s b ON a.l_orderkey = b.l_orderkey
                AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
        HAVING count(*) >= {_LINKPRED_SUPPORT}
    ),
    oe AS (
        SELECT ea AS src, eb AS dst FROM e
        UNION ALL
        SELECT eb, ea FROM e
    ),
    deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        FROM oe GROUP BY 1
    ),
    wedge AS (
        SELECT x.src AS u, y.dst AS w, x.dst AS mid
        FROM oe x
        JOIN oe y ON y.src = x.dst
        WHERE x.src < y.dst
    ),
    cand AS (
        SELECT wg.u, wg.w, wg.mid FROM wedge wg
        WHERE NOT EXISTS (
            SELECT 1 FROM e WHERE e.ea = wg.u AND e.eb = wg.w
        )
    ),
    scored AS (
        SELECT c.u, c.w,
               CAST(count(*) AS BIGINT) AS common_neighbors,
               CAST(sum(1000000 // d.degree) AS BIGINT) AS ra_micro
        FROM cand c JOIN deg d ON d.node = c.mid
        GROUP BY 1, 2
    )
    SELECT CAST(u AS BIGINT) AS suppkey_a,
           CAST(w AS BIGINT) AS suppkey_b,
           common_neighbors, ra_micro
    FROM scored
    ORDER BY ra_micro DESC, common_neighbors DESC, u ASC, w ASC
    LIMIT {_LINKPRED_TOPK}
"""


@register("supplier_link_prediction", oracle=_LINKPRED_ORACLE)
def q_supplier_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted missing edges on the co-supply backbone:
    non-adjacent supplier pairs ranked by Resource-Allocation index
    (exact integer micro-units, Σ 1000000 div deg over common
    neighbors) with common-neighbor count as the secondary key — the
    candidate-generation primitive behind graph-completion /
    recommendation pipelines.

    Plan shape at scale: wedges enumerate by ONE self-equi-join of the
    oriented backbone on the shared endpoint — fan-out Σ deg(z)²,
    MEASURED and bounded by the support threshold (the
    _LINKPRED_SUPPORT note above: the co-supply graph densifies with
    corpus scale, so the threshold — not graph sparsity — is the
    scale knob) — then an anti-join against the edge set and a
    partially-aggregated (u, w) count. The top-k is orderBy+limit
    (TakeOrdered — a per-partition heap + driver merge of k rows, no
    global window, no full sort at any scale). Total order on
    (ra, cn, u, w) makes the cut deterministic.

    Fixture note: at sf0.01 the 100-supplier co-supply graph is a
    COMPLETE clique (every pair shares >= 6 orders), so there are no
    non-adjacent pairs and the correct answer is 0 rows on both
    engines; the sf0.1 gate (sparse backbone, 20 scored rows) is the
    value-bearing check."""
    li = table(spark, "lineitem", sf_dir)
    s = li.select("l_orderkey", "l_suppkey").distinct()
    baskets = (
        s.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    ss = F.col("ss")
    pairs_col = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ss) - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(ss)),
                lambda j: F.struct(
                    F.element_at(ss, i).alias("a"),
                    F.element_at(ss, j).alias("b"),
                ),
            ),
        )
    )
    from mpi_word_count_spark.operators import materialize

    # backbone-sized (sparse by the support cut) and referenced three
    # times below (both orientations + the anti-join): materialized so the
    # basket-explode pipeline runs once — released via release_caches()
    e = materialize(
        baskets.select(F.explode(pairs_col).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _LINKPRED_SUPPORT)
        .select("a", "b")
    )
    oe = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = oe.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    x = oe.select(F.col("src").alias("u"), F.col("dst").alias("mid"))
    y = oe.select(F.col("src").alias("mid"), F.col("dst").alias("w"))
    wedge = x.join(y, "mid").filter(F.col("u") < F.col("w"))
    cand = wedge.join(
        e,
        (F.col("u") == F.col("a")) & (F.col("w") == F.col("b")),
        "left_anti",
    )
    scored = (
        cand.join(deg, cand["mid"] == deg["node"])
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(F.expr("1000000 div degree")).cast("long").alias("ra_micro"),
        )
    )
    return (
        scored.orderBy(
            F.desc("ra_micro"),
            F.desc("common_neighbors"),
            F.asc("u"),
            F.asc("w"),
        )
        .limit(_LINKPRED_TOPK)
        .select(
            F.col("u").cast("long").alias("suppkey_a"),
            F.col("w").cast("long").alias("suppkey_b"),
            "common_neighbors",
            "ra_micro",
        )
    )


# ---------------------------------------------------------------------------
# bounded-round SSSP on the weighted co-supply backbone
# ---------------------------------------------------------------------------

_SSSP_ROUNDS = 4


def _sssp_oracle(rounds: int = _SSSP_ROUNDS) -> str:
    head = """
    WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (
        SELECT a.l_suppkey AS ea, b.l_suppkey AS eb,
               CAST(count(*) AS BIGINT) AS support
        FROM s a
        JOIN s b ON a.l_orderkey = b.l_orderkey
                AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    ),
    oe AS (
        SELECT ea AS src, eb AS dst, 1000000 // support AS w FROM e
        UNION ALL
        SELECT eb, ea, 1000000 // support FROM e
    ),
    d0 AS (
        SELECT (SELECT min(ea) FROM e) AS node, CAST(0 AS BIGINT) AS dist
    )"""
    steps = "".join(
        f""",
    d{i + 1} AS (
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d{i}
            UNION ALL
            SELECT oe.dst, d{i}.dist + oe.w
            FROM d{i} JOIN oe ON oe.src = d{i}.node
        ) GROUP BY 1
    )"""
        for i in range(rounds)
    )
    return (
        head
        + steps
        + f"""
    SELECT CAST(node AS BIGINT) AS suppkey, dist AS dist_micro
    FROM d{rounds} ORDER BY suppkey"""
    )


@register("trade_graph_sssp", oracle=_sssp_oracle())
def q_trade_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round single-source shortest paths over the co-supply
    backbone with tie-strength weights (w = 1000000 div support:
    frequently co-supplying pairs are "close") from the smallest
    backbone supplier key — the neighborhood-radius analytic that
    completes the Pregel family (pagerank / LPA / k-core / SSSP all
    share the one-join + one-agg-shuffle round shape,
    operators/graph.py:bellman_ford).

    All-integer relaxations are exact and associative, so the 4-round
    distance table is bit-identical across engines; the oracle
    unrolls one min-relaxation CTE per round (the LPA oracle
    pattern). Nodes not reached within 4 hops are absent on BOTH
    engines."""
    from mpi_word_count_spark.operators.graph import bellman_ford

    li = table(spark, "lineitem", sf_dir)
    s = li.select("l_orderkey", "l_suppkey").distinct()
    baskets = (
        s.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    ss = F.col("ss")
    pairs_col = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ss) - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(ss)),
                lambda j: F.struct(
                    F.element_at(ss, i).alias("a"),
                    F.element_at(ss, j).alias("b"),
                ),
            ),
        )
    )
    e = (
        baskets.select(F.explode(pairs_col).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 3)
    )
    w = F.expr("1000000 div support")
    oe = e.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), w.alias("w")
    ).unionByName(
        e.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), w.alias("w")
        )
    )
    source = e.agg(F.min("a").alias("node"))
    dist = bellman_ford(oe, source, rounds=_SSSP_ROUNDS)
    return dist.select(
        F.col("node").cast("long").alias("suppkey"),
        F.col("dist").cast("long").alias("dist_micro"),
    ).orderBy("suppkey")


# ---------------------------------------------------------------------------
# HITS on the directed customer -> supplier trade graph
# ---------------------------------------------------------------------------

_HITS_TOPK = 20


def _hits_oracle(rounds: int = 3, scale: int = 1024, rescale: int = 64) -> str:
    head = f"""
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT c, CAST({scale} AS BIGINT) AS h FROM e)"""
    steps = ""
    for i in range(rounds):
        steps += f""",
    a{i + 1} AS (
        SELECT e.s, CAST(sum(h{i}.h) // {rescale} AS BIGINT) AS a
        FROM e JOIN h{i} USING (c) GROUP BY 1
    ),
    h{i + 1} AS (
        SELECT e.c, CAST(sum(a{i + 1}.a) // {rescale} AS BIGINT) AS h
        FROM e JOIN a{i + 1} USING (s) GROUP BY 1
    )"""
    return (
        head
        + steps
        + f"""
    SELECT CAST(s AS BIGINT) AS suppkey, a AS authority_fp
    FROM a{rounds}
    ORDER BY a DESC, s ASC LIMIT {_HITS_TOPK}"""
    )


@register("trade_graph_hits", oracle=_hits_oracle())
def q_trade_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 authority suppliers under integer fixed-point HITS on
    the DIRECTED customer→supplier purchase graph — on a bipartite
    graph the hub/authority duality is exactly the buyer-breadth /
    supplier-centrality decomposition, which is what distinguishes
    HITS from the undirected-PageRank view of the same relation
    (operators/graph.py:hits_fixed_point for the exactness and
    overflow arguments).

    Per half-step: one equi-join + one partial-aggregated shuffle;
    the oracle unrolls one hub and one authority CTE per round; the
    top-k is TakeOrdered with a total (a, suppkey) order."""
    from mpi_word_count_spark.operators.graph import hits_fixed_point

    o = table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            F.col("l_suppkey").alias("dst"),
        )
        .distinct()
    )
    auth, _hubs = hits_fixed_point(e)
    return (
        auth.orderBy(F.desc("a"), F.asc("dst"))
        .limit(_HITS_TOPK)
        .select(
            F.col("dst").cast("long").alias("suppkey"),
            F.col("a").alias("authority_fp"),
        )
    )
