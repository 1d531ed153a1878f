"""Iterative graph analytics over fixture-derived relation graphs.

The reference engine's only "iteration" is its ⌈log₂n⌉-round tree
reduce (word_count_mpi.c:147-209) — a fixed-depth exchange schedule.
This module supplies the general form a 100 TB data-curation stack
needs next to connected components (operators/dedup.py): fixed-round
synchronous iteration where EVERY round is exactly one join + one
partial-aggregated shuffle, and the driver holds only loop control.

PageRank here is formulated in **integer fixed point** so the result
is bit-identical across engines and summation orders:

    r_0(v)     = SCALE
    r_{i+1}(v) = base + (85 * Σ_{u→v} (r_i(u) div outdeg(u))) div 100
    base       = (SCALE * 15) div 100

All quantities are int64; integer sums are exact and associative, so
the usual float-PageRank pitfall (per-partition summation order
changing low bits, which a rounded oracle comparison can then flip)
cannot occur: a DuckDB oracle that unrolls the same recurrence matches
value-hash exactly.  Overflow bound: 85 * SCALE * max_indegree must
stay < 2^63, i.e. max_indegree < ~1.0e5 at SCALE=1e12 — at larger
graph scale drop SCALE (1e9 admits ~1.0e8-degree hubs) rather than
widening the type; ranking resolution degrades gracefully.

Scale design (100 TB / 10^10 nodes):
- ranks are a 2-column (node:int64, rank_fp:int64) table — 16 bytes a
  node; each round shuffles contributions hash-partitioned by dst with
  map-side partial sums (Tungsten partial agg), the Pregel/GraphX
  message pattern without a vertex-program framework.
- the adjacency list (src, dst, outdeg) is built once and
  materialized; per-round plans stay O(1) because round state is
  lineage-truncated on each operator's cadence by the one iteration
  driver (operators.iterate, which states the analyzed-plan hazard).
  On a real cluster set a checkpoint dir (sparkContext.setCheckpointDir):
  every loop then writes its checkpoints to the checkpoint FS and
  survives executor loss (identical results, exercised by
  tests/test_dedup.py::test_dup_clusters_reliable_checkpoint).
- rounds are FIXED (default 6), not convergence-tested: fixed-round
  PageRank is the production form for ranking (ordering stabilizes
  long before values), keeps every job identical, and is what an
  unrolled SQL oracle can replicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from mpi_word_count_spark.operators import iterate, materialize

DEFAULT_SCALE = 10**12
DAMPING_NUM = 85
DAMPING_DEN = 100
DEFAULT_ITERATIONS = 6

# Checkpoint cadence of the once-reading loops (pagerank, LPA, SSSP).
# Each eager checkpoint is a blocking materialization job, so per-round
# truncation pays ~iterations extra job launches; letting Catalyst
# compose a few rounds into ONE multi-stage job is measurably faster
# (pagerank, sf0.1 trade graph, best-of-2: every-round 8.1s, every-3
# 5.0s, never 5.3s) while still bounding plan depth — each round
# references its predecessor exactly once, so depth grows linearly
# (never the analyzed-plan DOUBLING dup_clusters guards against) and a
# cadence of 3 keeps any single plan ≤ 3 join+agg rounds deep at any
# iteration count.
CHECKPOINT_EVERY = 3


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = DEFAULT_ITERATIONS,
    scale: int = DEFAULT_SCALE,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-round integer-fixed-point PageRank.

    edges: DataFrame[src: long, dst: long], directed. For an
    undirected graph pass both orientations. Nodes are defined as the
    set of sources (every node must have outdeg ≥ 1; in a
    both-orientations graph that is every non-isolated node). Nodes
    that receive no in-edges in some round would drop from the rank
    table; with both orientations present every source also receives,
    so the node set is stable across rounds. Rank state is
    checkpointed every CHECKPOINT_EVERY rounds.

    Returns DataFrame[node: long, rank_fp: long] — rank in fixed-point
    units of 1/scale.
    """
    base = (scale * (DAMPING_DEN - DAMPING_NUM)) // DAMPING_DEN

    # personalized (seeded) PageRank: teleport mass restarts ONLY at
    # the seed set — base and r0 are per-node conditionals on seed
    # membership (a broadcast of the tiny seed table); ranks become
    # relevance-to-the-seeds instead of global centrality. seeds:
    # DataFrame[node: long] or None for the uniform/global form.
    seed_set = (
        F.broadcast(seeds.select(F.col("node").alias("_seed")).distinct())
        if seeds is not None
        else None
    )
    # adjacency with out-degree attached once: per-round work is then a
    # single equi-join on src + one aggregated shuffle on dst; every
    # round scans it, so it is materialized once. Out-degree comes from
    # an unordered COUNT window over the same src partitioning
    # (optimization r11): the old deg-groupBy + join form instantiated
    # the upstream edge-building subtree TWICE inside the one
    # materialization job (once under deg, once under the join probe) —
    # for the trade graph that is the orders⋈lineitem+distinct chain
    # re-run; the window needs ONE pass and one exchange. Weighted graphs
    # (keyword_pagerank's duplicate edge rows) are unchanged: the
    # window counts rows per src exactly as the groupBy did. At scale
    # both forms co-locate a node's out-edges by src — the window is
    # the SMJ shape without the second subtree evaluation.
    adj = materialize(
        edges.withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    )

    nodes = adj.select(F.col("src").alias("node")).distinct()
    if seed_set is None:
        ranks = nodes.withColumn("rank_fp", F.lit(scale).cast("long"))
    else:
        ranks = nodes.join(
            seed_set, nodes["node"] == F.col("_seed"), "left"
        ).select(
            "node",
            F.when(F.col("_seed").isNotNull(), F.lit(scale))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rank_fp"),
        )

    def step(ranks: DataFrame) -> DataFrame:
        contrib = adj.join(ranks, adj["src"] == ranks["node"]).select(
            F.col("dst"), F.expr("rank_fp div outdeg").alias("c")
        )
        agg = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        if seed_set is None:
            return agg.select(
                F.col("dst").alias("node"),
                (
                    F.lit(base)
                    + F.expr(f"({DAMPING_NUM} * s) div {DAMPING_DEN}")
                ).alias("rank_fp"),
            )
        return agg.join(
            seed_set, agg["dst"] == F.col("_seed"), "left"
        ).select(
            F.col("dst").alias("node"),
            (
                F.when(F.col("_seed").isNotNull(), F.lit(base)).otherwise(
                    F.lit(0)
                )
                + F.expr(f"({DAMPING_NUM} * s) div {DAMPING_DEN}")
            ).alias("rank_fp"),
        )

    return iterate(ranks, step, rounds=iterations, every=CHECKPOINT_EVERY)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counting by degree-ordered orientation — the
    standard scalable algorithm (node-iterator++ / compact-forward):
    orient every undirected edge from the endpoint that is SMALLER in
    the total order (degree, node-id), enumerate wedges only out of
    each edge's low end, and close them against the oriented edge set.
    Orientation caps every node's out-degree at O(√m) regardless of
    how skewed the real degree distribution is, so the wedge fan-out
    is Σ C(outdeg, 2) = O(m^1.5) worst case instead of the hub-killer
    Σ C(deg, 2) — this is why the oriented form survives power-law
    graphs at 100 TB where the naive wedge join dies on the first hub.

    edges: DataFrame[a: long, b: long] — undirected, deduplicated,
    a < b (one row per edge). Returns DataFrame[node, degree,
    triangles] with every node present (0 triangles kept).

    The order key packs (degree, id) into one int64 — degree·2³² + id
    — so the orientation is a plain column comparison; valid while
    degree < 2³¹ and id < 2³², beyond which compare the pair
    lexicographically instead (two comparisons, same plan shape).

    Shuffle ledger: degree count (1), two id-keyed joins to attach
    order keys (broadcastable while |V| ≪ |E|), wedge self-join on
    src (1), closing equi-join on (v, w) (1), per-node count (1) —
    every one an equi-join or partial-aggregated exchange; no
    CartesianProduct anywhere (plan-audited in tests/test_graph.py).
    """
    both = edges.select(F.col("a").alias("node")).union(
        edges.select(F.col("b").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    ordk = deg.select(
        "node", (F.col("degree") * F.lit(2**32) + F.col("node")).alias("ord")
    )
    oriented = (
        edges.join(
            ordk.select(F.col("node").alias("a"), F.col("ord").alias("ord_a")),
            "a",
        )
        .join(
            ordk.select(F.col("node").alias("b"), F.col("ord").alias("ord_b")),
            "b",
        )
        .select(
            F.when(F.col("ord_a") < F.col("ord_b"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("src"),
            F.when(F.col("ord_a") < F.col("ord_b"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("dst"),
            F.greatest("ord_a", "ord_b").alias("dst_ord"),
        )
    )
    e1 = oriented.select(
        "src", F.col("dst").alias("v"), F.col("dst_ord").alias("v_ord")
    )
    e2 = oriented.select(
        "src", F.col("dst").alias("w"), F.col("dst_ord").alias("w_ord")
    )
    # wedge (src; v, w) counted once via v <ₒ w; a triangle's closing
    # edge {v, w} is stored oriented v→w for exactly that ordering, so
    # one equi-join on (v, w) closes it — each triangle found exactly
    # once, at its lowest-order vertex
    wedges = (
        e1.join(e2, "src")
        .filter(F.col("v_ord") < F.col("w_ord"))
        .select("src", "v", "w")
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"]).select("src", "v", "w")
    tri_nodes = (
        tris.select(F.col("src").alias("node"))
        .union(tris.select(F.col("v").alias("node")))
        .union(tris.select(F.col("w").alias("node")))
    )
    tcount = tri_nodes.groupBy("node").agg(
        F.count(F.lit(1)).alias("triangles")
    )
    return deg.join(tcount, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
    )


# k-core truncates EVERY round (not pagerank's every-3): round i+1
# references round i's edge set THREE times (the degree scan and both
# semi-join probes of the keep set), so an untruncated analyzed plan
# grows ~3^rounds — the exact plan-doubling hazard dup_clusters
# documents, one power worse. PageRank can amortize because its chain
# references each round exactly once; a peel cannot. Cadence 1 also
# materializes the input edge set up front, for the same reason (round
# 0 already reads it three times; measured at sf0.1: 47.7s without the
# base checkpoint, 9s with — the un-truncated round-0 plan re-ran the
# upstream edge-building join once per reference).
KCORE_CHECKPOINT_EVERY = 1


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly delete nodes of degree
    < k (with their edges) for exactly `rounds` synchronous rounds,
    then report the survivors with their within-subgraph degree. The
    k-core is the standard dense-community backbone (the third member
    of the degeneracy family beside triangles and components); fixed
    rounds — not convergence-tested — for the same reasons as
    pagerank_fixed_point above: every job identical, and an unrolled
    SQL oracle can replicate the loop exactly. If the peel converges
    earlier, the remaining rounds are no-ops (semi joins that keep
    everything), so the fixed-round result EQUALS the true k-core
    whenever `rounds` covers the peel depth — convergence at the
    configured depth is asserted per-scale in tests/test_graph.py.

    edges: DataFrame[a: long, b: long] — undirected, deduplicated,
    one row per edge (a < b). Returns DataFrame[node, core_degree].

    Scale shape: each round is one partial-aggregated degree count
    plus two semi joins keyed on the shrinking survivor set — the
    peel only ever removes rows, so per-round cost is monotonically
    non-increasing. The edge set is checkpointed before the first
    round and after every round (KCORE_CHECKPOINT_EVERY)."""

    def step(e: DataFrame) -> DataFrame:
        deg = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        return e.join(
            keep.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(keep.withColumnRenamed("node", "b"), "b", "left_semi")

    e = iterate(edges, step, rounds=rounds, every=KCORE_CHECKPOINT_EVERY)
    return (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def trade_graph_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The customer–supplier trade graph: an undirected bipartite edge
    (customer c ↔ supplier s) wherever some order of c has a lineitem
    supplied by s. Node ids disambiguate the two key spaces by parity:
    customer → 2*custkey, supplier → 2*suppkey + 1.

    One join orders⋈lineitem on orderkey (the natural co-partitioned
    join at scale — both sides hash on orderkey), one distinct over
    16-byte edge pairs, then both orientations for the undirected
    random walk.
    """
    e = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


LPA_ROUNDS = 4


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    self-loop per node: community(v) starts as v's own id; each round
    every node adopts the most frequent label among its neighbors AND
    itself (count DESC, label ASC tie-break — fully deterministic,
    all-integer). The self-edge is the standard damping that stops
    the 2-coloring oscillation synchronous LPA exhibits on bipartite
    graphs.

    edges: DataFrame[src, dst], both orientations present (same
    contract as pagerank_fixed_point). Self-loops in the input are
    dropped before the damping self-edge is added, so a node's own
    label counts exactly once per round either way. Per round: one equi-join on
    src + one (node, label) count shuffle + one argmax aggregation —
    never a window over the corpus.

    Setup (optimization r11): ONE materialization job builds
    edges ∪ self-loops; the initial labels come from the
    checkpoint's own self-edge rows (src == dst ⇔ node), so the
    edge-building subtree is never re-instantiated for a separate
    nodes table — the old three-branch form (nodes, union, labels)
    re-ran the upstream orders⋈lineitem+distinct chain per branch.
    Measured at sf0.1: 6.0–6.6 → 4.2–4.5 s, bit-identical labels."""
    withself = materialize(
        edges.filter(F.col("src") != F.col("dst")).union(
            edges.select("src", "src").distinct().toDF("src", "dst")
        )
    )
    labels = withself.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )

    def step(labels: DataFrame) -> DataFrame:
        counted = (
            withself.join(
                labels.select(
                    F.col("node").alias("_ln"), F.col("label").alias("_lab")
                ),
                withself["src"] == F.col("_ln"),
            )
            .groupBy(F.col("dst").alias("node"), F.col("_lab").alias("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            counted.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("m")
            )
            .select("node", (-F.col("m.neg")).alias("label"))
        )

    return iterate(labels, step, rounds=rounds, every=CHECKPOINT_EVERY)


SSSP_ROUNDS = 4


def bellman_ford(
    wedges: DataFrame,
    source: DataFrame,
    rounds: int = SSSP_ROUNDS,
) -> DataFrame:
    """Fixed-round Bellman–Ford single-source shortest paths — the
    remaining Pregel-family classic next to pagerank_fixed_point /
    label_propagation / k-core (same per-round shape: ONE equi-join
    on src + ONE min-aggregated shuffle on dst).

    wedges: DataFrame[src, dst, w] with integer weights, both
    orientations present for undirected graphs (the pagerank edge
    contract). source: DataFrame[node] seed set (dist 0). Returns
    DataFrame[node, dist] for nodes REACHED within `rounds`
    relaxations — bounded-round SSSP, the production form for
    neighborhood-radius analytics, and what an unrolled SQL oracle
    can replicate term for term. All-integer mins are exact and
    associative, so the result is bit-identical across engines and
    partitionings (the same argument as integer PageRank above).

    Scale: dist state is 16 B/node; the adjacency is materialized
    once."""
    adj = materialize(wedges)
    dist = source.select(
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )

    def step(dist: DataFrame) -> DataFrame:
        relaxed = adj.join(dist, adj["src"] == dist["node"]).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).cast("long").alias("dist"),
        )
        return (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    return iterate(dist, step, rounds=rounds, every=CHECKPOINT_EVERY)


HITS_ROUNDS = 3
HITS_SCALE = 1024
HITS_RESCALE = 64


def hits_fixed_point(
    edges: DataFrame,
    rounds: int = HITS_ROUNDS,
    scale: int = HITS_SCALE,
    rescale: int = HITS_RESCALE,
) -> tuple[DataFrame, DataFrame]:
    """Integer fixed-point HITS (Kleinberg 1999) on a DIRECTED edge
    set DataFrame[src, dst]: hubs start at `scale`, each half-step
    aggregates the opposite side's scores and rescales by an integer
    division (`div rescale`) instead of the float L2 normalization —
    deterministic, exact, and associative, so the scores are
    bit-identical across engines/partitionings (the integer-PageRank
    argument above; only the RATIO of scores matters for ranking and
    integer rescale preserves it to the dropped low bits).

    Returns (authorities: [dst, a], hubs: [src, h]) after `rounds`
    full rounds. Overflow bound: score ≤ scale·(max_deg/rescale)^(2r)
    — at rescale 64 a 10⁶-degree hub supports 3 rounds inside int64;
    larger graphs raise `rescale`, trading rank resolution exactly as
    integer PageRank trades SCALE.

    Scale shape: per half-step ONE equi-join + ONE partial-aggregated
    shuffle (the pagerank/LPA/SSSP round shape); score state is
    16 B/node; the edge list is materialized once, score state never
    (each half-step reads its predecessor once, so the plan grows
    linearly in `rounds`)."""
    adj = materialize(edges)
    hubs = (
        adj.select("src")
        .distinct()
        .select("src", F.lit(scale).cast("long").alias("h"))
    )

    def step(state: tuple) -> tuple[DataFrame, DataFrame]:
        _, hubs = state
        auth = (
            adj.join(hubs, "src")
            .groupBy("dst")
            .agg(F.expr(f"CAST(sum(h) DIV {rescale} AS BIGINT)").alias("a"))
        )
        hubs = (
            adj.join(auth, "dst")
            .groupBy("src")
            .agg(F.expr(f"CAST(sum(a) DIV {rescale} AS BIGINT)").alias("h"))
        )
        return auth, hubs

    return iterate((None, hubs), step, rounds=rounds, every=0)
