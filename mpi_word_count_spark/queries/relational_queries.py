"""Relational core over the fixture star schema (SURVEY.md §7 M2).

TPC-H-style flagships plus one registered exemplar per relational
operator family the reference lacks (joins incl. broadcast/semi/anti,
window functions, rollup/cube, set ops, pivot, JSON extraction,
date aggregation, sessionization, top-k per group).

Oracle-parity discipline (see registry.py): floating aggregates
rounded identically on both sides; timestamps emitted as formatted
strings; every window ordered by a total order (unique tiebreaker).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.relational import sessionize, topk_per_group
from mpi_word_count_spark.registry import register
from mpi_word_count_spark.tables import table


# --- TPC-H Q1 analog: scan → filter → wide hash aggregation ---------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report. The filter pushes to the parquet scan;
    Tungsten does partial+final hash agg (the reference's map-side
    combine, hash_map.c:69-79, generalized to 8 aggregates)."""
    li = table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- TPC-H Q3 analog: 3-way join, selective filters, top-k ----------------
@register(
    "q3_top_revenue_orders",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority analog. Catalyst pushes both date filters to
    the scans; customer (small, filtered) broadcasts under the 64 MB
    threshold, so only the orders⋈lineitem join shuffles."""
    c = table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --- TPC-H Q5 analog: 6-way star join through region ----------------------
@register(
    "q5_regional_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume. The dimension chain region→nation→
    supplier/customer broadcasts (all tiny); the only shuffle join is
    orders⋈lineitem on orderkey — the right plan at 100 TB where fact
    tables dominate."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, "lineitem", sf_dir)
    s = table(spark, "supplier", sf_dir)
    n = table(spark, "nation", sf_dir)
    r = table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --- broadcast join exemplar ---------------------------------------------
@register(
    "brand_revenue",
    oracle="""
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with an explicit broadcast hint: zero shuffle for the
    join (part is the small side), one for the final agg."""
    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- semi / anti joins ----------------------------------------------------
@register(
    "customers_with_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left_semi join (no row multiplication, build side only
    keeps the key — the scalable EXISTS at any fact size)."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left_anti join."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir)
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "customer_order_counts_outer",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def customer_order_counts_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join exemplar: every customer appears, zero-order
    customers with n_orders = 0 (count over the nullable key counts
    only matches). The outer join preserves the small side's rows, so
    the broadcast hint stays valid — only the probe side streams."""
    c = table(spark, "customer", sf_dir)
    o = table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


# --- window functions -----------------------------------------------------
@register(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (top-k per group operator): one shuffle on the
    partition key; row_number needs a total order (orderkey tiebreak)."""
    o = table(spark, "orders", sf_dir)
    ranked = topk_per_group(
        o,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    )
    return ranked.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        "rn",
    )


@register(
    "running_revenue_per_supplier",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_extendedprice) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC,
                        l_extendedprice ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_revenue
    FROM lineitem
    """,
)
def running_revenue_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window with a running frame (cumulative sum).

    The ORDER BY must be TOTAL or the prefix sums are underdetermined:
    (orderkey, linenumber) is NOT unique in the fixture (118k dup
    pairs at sf0.1, including two supplier-707 rows identical in every
    sort column with prices 7997.00 apart — caught as an intermittent
    sf0.1 hash mismatch that flipped with the executor's sort-run
    order). l_extendedprice is the final tiebreaker; rows still tied
    after it are interchangeable in a running SUM, so the result is
    well-defined."""
    li = table(spark, "lineitem", sf_dir)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            F.asc("l_shipdate"),
            F.asc("l_orderkey"),
            F.asc("l_linenumber"),
            F.asc("l_extendedprice"),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_extendedprice").over(w), 2).alias("running_revenue"),
    )


@register(
    "event_gaps",
    oracle="""
    SELECT event_id, user_id,
           (epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ))) // 1000000 AS gap_seconds
    FROM events
    """,
)
def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() exemplar: inter-event gap per user (NULL for first).

    Gap computed on microseconds then floor-divided — second-level
    truncation before subtraction loses sub-second digits differently
    across engines."""
    e = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return e.select(
        "event_id",
        "user_id",
        F.floor(gap_us / 1000000).cast("bigint").alias("gap_seconds"),
    )


@register(
    "priority_status_sets",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
               AS statuses,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def priority_status_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-valued aggregation (collect_set ≈ LISTAGG DISTINCT): the
    collected set is sorted before joining because collect order is
    partition-nondeterministic — the mandatory determinism discipline
    for any array/list aggregate. Plus count(DISTINCT), which Spark
    plans as a two-stage expand without a separate distinct job."""
    o = table(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register(
    "order_price_deciles",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(10) OVER w AS INT) AS decile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def order_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution stats (ntile / percent_rank / cume_dist) over a
    total order — WITHOUT the one-partition sort window the trio
    normally implies. The (o_totalprice, o_orderkey) ordering is
    total (key is unique), so all three are closed forms of the
    global row_number rank and the table size n:

        ntile(k)      = ntile_from_rank (exact front-loaded-remainder
                        closed form, operators/ranking)
        percent_rank  = (rank−1)/(n−1)
        cume_dist     = rank/n

    rank comes from the bucket-offset decomposition ($1000 price
    buckets; equal prices share a bucket) and n is a 1-row broadcast.
    The oracle keeps the literal window functions, so the hash match
    proves all three identities at once."""
    from mpi_word_count_spark.operators.ranking import (
        bucketed_global_rank,
        ntile_from_rank,
    )

    o = table(spark, "orders", sf_dir)
    n_row = o.agg(F.count(F.lit(1)).alias("_n"))
    ranked = bucketed_global_rank(
        o.select("o_orderkey", "o_totalprice"),
        F.floor(F.col("o_totalprice") / 1000),
        [F.asc("o_totalprice"), F.asc("o_orderkey")],
        rank_col="_rk",
    )
    return ranked.crossJoin(F.broadcast(n_row)).select(
        "o_orderkey",
        ntile_from_rank("_rk", "_n", 10).alias("decile"),
        F.round(
            (F.col("_rk") - 1) / (F.col("_n") - 1).cast("double"), 4
        ).alias("pct_rank"),
        F.round(F.col("_rk") / F.col("_n").cast("double"), 4).alias("cume"),
    )


# --- RANGE-interval window frame ------------------------------------------
@register(
    "trailing_week_revenue",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(sum(l_extendedprice) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate ASC
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ), 2) AS trailing_7d_revenue
    FROM lineitem
    """,
)
def trailing_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (vs running_revenue_per_supplier's
    ROWS frame): each lineitem's trailing-7-day supplier revenue.

    RANGE frames aggregate over a VALUE interval, so peers with equal
    sort keys are all in-frame and no unique tiebreaker is needed —
    the frame is [shipdate − 7d, shipdate] regardless of row order
    among ties. Spark's rangeBetween needs a numeric sort key;
    whole-second epoch is exact for midnight-aligned ship dates and
    −604800..0 reproduces the inclusive interval frame bit-for-bit.
    One shuffle on l_suppkey, the same exchange profile as any
    per-key window at 100 TB."""
    li = table(spark, "lineitem", sf_dir)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.unix_timestamp("l_shipdate").cast("long"))
        .rangeBetween(-7 * 86400, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_extendedprice").over(w), 2).alias(
            "trailing_7d_revenue"
        ),
    )


# --- rollup / cube --------------------------------------------------------
@register(
    "orders_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical grouping sets (absent in reference, SURVEY §2.3)."""
    o = table(spark, "orders", sf_dir)
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "lineitem_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, "lineitem", sf_dir)
    return o.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# --- set operations -------------------------------------------------------
@register(
    "repeat_customers_9596",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
)
def repeat_customers_9596(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — customers active in both 1995 and 1996."""
    o = table(spark, "orders", sf_dir)
    y95 = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y95.intersect(y96)


@register(
    "churned_customers_9596",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
)
def churned_customers_9596(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — active in 1995, gone in 1996."""
    o = table(spark, "orders", sf_dir)
    y95 = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y95.subtract(y96)  # EXCEPT DISTINCT (vs exceptAll, the bag variant)


# --- pivot ----------------------------------------------------------------
@register(
    "orders_status_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS status_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS status_filled,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS status_partial
    FROM orders GROUP BY o_orderpriority
    """,
)
def orders_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (explicit values avoid the
    extra distinct-values job — mandatory practice at scale)."""
    o = table(spark, "orders", sf_dir)
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_filled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_partial"),
    )


# --- JSON extraction ------------------------------------------------------
@register(
    "events_json_buckets",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def events_json_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string extraction (events.props) — get_json_object is
    JVM-side; at scale prefer from_json with an explicit schema once
    the shape is known (single parse, columnar output)."""
    e = table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --- date aggregation -----------------------------------------------------
@register(
    "orders_by_month",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, "orders", sf_dir)
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# --- sessionization -------------------------------------------------------
@register(
    "user_session_counts",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions
    FROM gaps GROUP BY user_id
    """,
)
def user_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) via the sessionize operator;
    max(session_id) per user == number of sessions."""
    e = table(spark, "events", sf_dir)
    s = sessionize(e, gap_seconds=1800, tiebreak="event_id")
    return s.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions")
    )


# --- ordered funnel -------------------------------------------------------
@register(
    "user_event_funnel",
    oracle="""
    WITH w1 AS (
        SELECT user_id, event_type, ts,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t1
        FROM events
    ), w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
        FROM w1
    ), w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
        FROM w2
    ), per_user AS (
        SELECT user_id, any_value(t1) AS t1, any_value(t2) AS t2,
               any_value(t3) AS t3
        FROM w3 GROUP BY user_id
    )
    SELECT count(t1)                                            AS n_viewed,
           count(t2)                                            AS n_clicked,
           count(t3)                                            AS n_purchased,
           CAST(coalesce(sum(CASE WHEN t2 IS NOT NULL
                    THEN epoch_us(t2) - epoch_us(t1) END), 0) AS BIGINT)
                                                                AS view_to_click_us,
           CAST(coalesce(sum(CASE WHEN t3 IS NOT NULL
                    THEN epoch_us(t3) - epoch_us(t2) END), 0) AS BIGINT)
                                                                AS click_to_purchase_us
    FROM per_user
    """,
)
def user_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: each step's
    anchor is the user's FIRST qualifying event strictly after the
    previous step (not independent per-type minima — the order is the
    semantics).

    One shuffle on user_id; the three step timestamps are chained
    whole-partition window aggregates over the SAME partitioning, so
    Catalyst reuses one exchange for all three passes plus the
    per-user collapse. No self-joins: the t2-depends-on-t1 chain that
    SQL usually writes as two joins back onto events stays a single
    pass over each user's partition. The final reduce is a 1-row
    global aggregate. At 100 TB the cost is one events shuffle — the
    same lower bound any per-user computation pays."""
    e = table(spark, "events", sf_dir).select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    e = e.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    e = e.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    e = e.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = e.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )
    return per_user.select(
        F.count("t1").alias("n_viewed"),
        F.count("t2").alias("n_clicked"),
        F.count("t3").alias("n_purchased"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("t2").isNotNull(),
                    F.unix_micros("t2") - F.unix_micros("t1"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("view_to_click_us"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("t3").isNotNull(),
                    F.unix_micros("t3") - F.unix_micros("t2"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("click_to_purchase_us"),
    )


# --- sweep-line interval concurrency --------------------------------------
@register(
    "session_concurrency_hourly",
    oracle="""
    WITH gaps AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), numbered AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC) AS session_id
        FROM gaps
    ), sessions AS (
        SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
        FROM numbered GROUP BY user_id, session_id
    ), bounds AS (
        -- spine: first possibly-active boundary (min ceil-hour of the
        -- starts) .. last one (trunc-hour of the max end); earlier
        -- hours are identically zero
        SELECT min(CASE WHEN s = date_trunc('hour', s) THEN s
                        ELSE date_trunc('hour', s) + INTERVAL 1 HOUR END) AS h0,
               date_trunc('hour', max(e)) AS h1
        FROM sessions
    ), hours AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    )
    SELECT strftime(h, '%Y-%m-%d %H:00') AS hour,
           CAST(count(s.user_id) AS BIGINT) AS active_sessions
    FROM hours LEFT JOIN sessions s ON s.s <= hours.h AND s.e >= hours.h
    GROUP BY hour
    """,
)
def session_concurrency_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many sessions are live at each hour boundary — the
    interval-concurrency question, answered WITHOUT the interval×spine
    overlap join the oracle runs.

    Sweep-line in two levels: (1) each session (10-min-gap
    sessionization, one shuffle on user_id) emits +1 at the first hour
    boundary >= its start and -1 at the first boundary > its end —
    a groupBy to per-hour deltas, so the heavy data collapses to
    O(hours) rows; (2) active(h) = prefix-sum of deltas over the hour
    spine. The spine is wall-clock-bounded (a decade is ~90k rows), so
    the unpartitioned ordered window in step 2 is deliberate — it runs
    over spine-sized, never event-sized, data. At 100 TB the overlap
    join is |sessions|×|hours| fan-out; the sweep is one sessionize
    shuffle plus an O(hours) reduce."""
    e = table(spark, "events", sf_dir)
    sess = (
        sessionize(e, gap_seconds=600, tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    # +1 at ceil_hour(s): the first boundary h with s <= h
    # -1 at floor_hour(e) + 1h: the first boundary h with e < h
    # BOTH boundary rows come from ONE explode over the session row —
    # a union of two selects would re-run the whole sessionization per
    # branch (verified in the plan: two scans + two user_id exchanges)
    floor_s = F.date_trunc("hour", F.col("s"))
    start_at = F.when(floor_s == F.col("s"), floor_s).otherwise(
        floor_s + F.expr("INTERVAL 1 HOUR")
    )
    end_at = F.date_trunc("hour", F.col("e")) + F.expr("INTERVAL 1 HOUR")
    boundary = sess.select(
        F.explode(
            F.array(
                F.struct(start_at.alias("h"), F.lit(1).alias("d")),
                F.struct(end_at.alias("h"), F.lit(-1).alias("d")),
            )
        ).alias("x")
    ).select("x.h", "x.d")
    deltas = boundary.groupBy("h").agg(F.sum("d").alias("delta"))
    # spine bounds come from RAW events, not the session table:
    # min(session start) == min(ts) and max(session end) == max(ts)
    # by construction (ceil is monotonic, so min(ceil(s)) == ceil(min
    # ts)) — a scan-only 1-row aggregate the parquet min/max footer
    # stats can answer, instead of a second sessionization pass
    floor_min = F.date_trunc("hour", F.min("ts"))
    bounds = e.agg(
        F.when(floor_min == F.min("ts"), floor_min)
        .otherwise(floor_min + F.expr("INTERVAL 1 HOUR"))
        .alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    joined = spine.join(deltas, "h", "left").select(
        "h", F.coalesce("delta", F.lit(0)).alias("delta")
    )
    active = joined.withColumn(
        "active_sessions",
        F.sum("delta")
        .over(
            Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint"),
    )
    return active.select(
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        "active_sessions",
    )


@register(
    "events_variant_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS n_distinct_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the Spark 4 VARIANT type:
    parse_json ONCE into variant, typed extraction via
    try_variant_get — the modern path for schema-on-read columns
    (vs events_json_buckets' per-path get_json_object string walks:
    variant parses the document a single time into a binary encoding
    and every subsequent path access is an O(fields) lookup, the
    difference between 1 and N parses when N paths are read at
    100 TB)."""
    e = table(spark, "events", sf_dir)
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("k").alias("n_distinct_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "user_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               date_diff('week', f.cohort_week, date_trunc('week', e.ts))
                   AS age_weeks
        FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(age_weeks AS INT) AS age_weeks,
           CAST(count(*) AS BIGINT) AS n_users
    FROM activity
    GROUP BY 1, 2
    """,
)
def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the standard product-analytics
    rollup: users grouped by first-activity week (cohort), counted in
    each later week they return (age in weeks). Week buckets via
    date_trunc; age via integer week difference of truncated weeks,
    so every cell is exact integer arithmetic.

    Shape: one user-keyed aggregation for first-activity, one join
    back on user_id (both shuffles share the user_id key, so the
    second reuses the first's partitioning), then a distinct +
    rollup on the (cohort, age) pair — cells, not events, leave the
    final exchange."""
    ev = table(spark, "events", sf_dir)
    wk = F.date_trunc("week", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("age_weeks"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "age_weeks",
    ).agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "customer_rfm_segments",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS maxd FROM orders),
    base AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate), anchor.maxd) AS recency_days,
               count(*) AS frequency,
               round(sum(o_totalprice), 2) AS monetary
        FROM orders CROSS JOIN anchor
        GROUP BY o_custkey, anchor.maxd
    ),
    scored AS (
        SELECT o_custkey,
               ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r,
               ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f,
               ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m
        FROM base
    )
    SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM scoring: quintiles of
    Recency (days since last order, vs the corpus max date so the
    anchor is data-derived and deterministic), Frequency (orders),
    Monetary (total spend), rolled up to segment sizes.

    No global NTILE window even though this is the customer
    DIMENSION (one row per customer): at 100 TB that dimension is
    ~10⁸ rows, still too many for one WindowExec partition. Each
    quintile is instead the closed form of SQL NTILE
    (operators/ranking.ntile_from_rank — the exact
    first-(n mod k)-groups-get-one-extra assignment) with rank from
    the bucket-offset decomposition (operators/ranking) and n a 1-row
    broadcast. Every rank ordering carries the custkey tiebreak so
    bucket boundaries are total-order deterministic cross-engine; the
    oracle keeps literal ntile(5), so the hash match PROVES the
    closed form. Monetary buckets at $100 granularity (equal values
    share a bucket; distinct-bucket table stays thousands of rows)."""
    from mpi_word_count_spark.operators.ranking import (
        bucketed_global_rank,
        ntile_from_rank,
    )

    orders = table(spark, "orders", sf_dir)
    anchor = orders.agg(F.max("o_orderdate").alias("maxd"))
    base = (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey", "maxd")
        .agg(
            F.datediff(F.col("maxd"), F.max("o_orderdate")).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    n_row = base.agg(F.count(F.lit(1)).alias("_n"))
    ranked = bucketed_global_rank(
        base,
        F.col("recency_days"),
        [F.asc("recency_days"), F.asc("o_custkey")],
        rank_col="_rr",
    )
    ranked = bucketed_global_rank(
        ranked,
        -F.col("frequency"),
        [F.desc("frequency"), F.asc("o_custkey")],
        rank_col="_rf",
    )
    ranked = bucketed_global_rank(
        ranked,
        -F.floor(F.col("monetary") / 100),
        [F.desc("monetary"), F.asc("o_custkey")],
        rank_col="_rm",
    )
    tile = lambda rank: ntile_from_rank(rank, "_n", 5)  # noqa: E731
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .select(
            tile("_rr").alias("r"),
            tile("_rf").alias("f"),
            tile("_rm").alias("m"),
        )
        .groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "ship_latency_percentiles",
    oracle="""
    WITH lat AS (
        SELECT o.o_orderpriority,
               date_diff('day', o.o_orderdate, l.l_shipdate) AS days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
        SELECT o_orderpriority, days,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY days) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM lat
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_items,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN days END) AS BIGINT) AS p50_days,
           CAST(max(CASE WHEN rn = (n * 9 + 9) // 10 THEN days END) AS BIGINT) AS p90_days,
           CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN days END) AS BIGINT) AS p99_days
    FROM ranked GROUP BY 1
    """,
)
def q_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency SLO percentiles per priority class — the
    operational latency report, with DISCRETE percentiles: pK is the
    ⌈K·n/100⌉-th smallest actual day count selected by row_number
    (the same engine-exact technique as events_value_outliers; an
    interpolated percentile would be float and engine-sensitive).
    One fact join co-partitioned on orderkey, one priority-keyed
    window pass, rollup emits 5 rows."""
    from pyspark.sql import Window

    o = table(spark, "orders", sf_dir)
    li = table(spark, "lineitem", sf_dir)
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("days"),
    )
    w = Window.partitionBy("o_orderpriority")
    ranked = lat.select(
        "o_orderpriority",
        "days",
        F.row_number().over(w.orderBy("days")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    pick = lambda expr: F.max(  # noqa: E731 — local one-liner
        F.when(F.col("rn") == F.expr(expr), F.col("days"))
    ).cast("bigint")
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_items"),
        pick("(n + 1) div 2").alias("p50_days"),
        pick("(n * 9 + 9) div 10").alias("p90_days"),
        pick("(n * 99 + 99) div 100").alias("p99_days"),
    )


@register(
    "dau_wau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ),
    spine AS (
        SELECT DISTINCT d FROM ud
    ),
    contrib AS (
        SELECT u.user_id, CAST(u.d + i * INTERVAL '1 day' AS DATE) AS d
        FROM ud u, (SELECT unnest(generate_series(0, 6)) AS i) g
    )
    SELECT strftime(s.d, '%Y-%m-%d') AS day,
           CAST((SELECT count(*) FROM ud WHERE ud.d = s.d) AS BIGINT) AS dau,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM spine s
    JOIN contrib c ON c.d = s.d
    GROUP BY s.d
    """,
)
def q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + 7-day rolling distinct active users — the growth
    metric whose naive form (distinct over a sliding window) has no
    scalable expression. The exact scalable form: dedup events to
    (user, day) FIRST (the only corpus-sized aggregation), then each
    (user, day) contributes to 7 calendar days (fixed ×7 fan-out of
    the already-tiny distinct table) and a second distinct count per
    day yields WAU. Days beyond the observed spine are dropped so
    DAU/WAU share the same day domain."""
    ev = table(spark, "events", sf_dir)
    ud = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    spine = ud.select("d").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("i")).alias("d"))
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        contrib.join(spine, "d")
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
        )
    )


@register(
    "decimal_pricing_summary",
    oracle="""
    WITH d AS (
        SELECT l_returnflag, l_linestatus,
               CAST(l_quantity      AS DECIMAL(12,2)) AS qty,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
               CAST(l_discount      AS DECIMAL(4,2))  AS disc,
               CAST(l_tax           AS DECIMAL(4,2))  AS tax
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum(qty)   AS DOUBLE) AS sum_qty,
           CAST(sum(price) AS DOUBLE) AS sum_base_price,
           CAST(sum(price * (1 - disc)) AS DOUBLE) AS sum_disc_price,
           CAST(sum(price * (1 - disc) * (1 + tax)) AS DOUBLE)
               AS sum_charge,
           count(*) AS count_order
    FROM d GROUP BY l_returnflag, l_linestatus
    """,
)
def q_decimal_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1's money math in EXACT decimal arithmetic — the warehouse
    requirement the double-typed fixture schema papers over: every
    monetary value casts to a fixed-scale DECIMAL at the scan, all
    products and sums run in exact decimal (no summation-order last-bit
    drift, so NO defensive pre-aggregation rounding anywhere in the
    plan — contrast q1_pricing_summary, which must round double sums),
    and only the final presentation casts back to double. That last
    cast exists for the driver's pandas canonicalizer (object-dtype
    Decimal cells vs DuckDB's float64 landing would type-mismatch the
    value hash; oracle.py's docstring documents the class) and is
    deterministic — both engines convert the same exact decimal.

    Plan shape is identical to Q1: pushed scan filter, Tungsten
    partial+final hash agg; decimal aggregation buffers are fixed-width
    Java BigDecimal/int128 states, same exchange volume."""
    li = table(spark, "lineitem", sf_dir)
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = price * (F.lit(1).cast("decimal(3,2)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + tax)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "join_size_estimate",
    oracle="""
    WITH co AS (
        SELECT o_orderkey AS k, count(*) AS n FROM orders GROUP BY 1
    ),
    cl AS (
        SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1
    ),
    est AS (
        SELECT CAST(sum(co.n * cl.n) AS BIGINT) AS predicted_rows,
               CAST(count(*) AS BIGINT) AS n_join_keys,
               CAST(max(co.n * cl.n) AS BIGINT) AS max_key_fanout
        FROM co JOIN cl ON co.k = cl.k
    ),
    act AS (
        SELECT CAST(count(*) AS BIGINT) AS actual_rows
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT predicted_rows, actual_rows, n_join_keys, max_key_fanout,
           predicted_rows = actual_rows AS exact_match
    FROM est CROSS JOIN act
    """,
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from per-key count tables — the
    query-planning primitive behind join reordering and shuffle-size
    forecasts: |A ⋈ B| = Σ_k c_A(k)·c_B(k), computed WITHOUT
    executing the wide join (the count tables are each one
    partial-aggregated pass, and their join carries one row per
    distinct key — at 100 TB that is the difference between planning
    a join and paying for it). The audit row also executes the real
    join once and asserts prediction == actuality plus the max
    per-key fanout (the skew number AQE's skew-join split keys off).
    All integer arithmetic, so the hash verifies the identity itself.
    """
    o = table(spark, "orders", sf_dir)
    li = table(spark, "lineitem", sf_dir)
    co = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_o")
    )
    cl = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_l")
    )
    est = co.join(cl, "k").agg(
        F.sum(F.col("n_o") * F.col("n_l")).cast("bigint").alias(
            "predicted_rows"
        ),
        F.count(F.lit(1)).alias("n_join_keys"),
        F.max(F.col("n_o") * F.col("n_l")).cast("bigint").alias(
            "max_key_fanout"
        ),
    )
    act = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    return est.crossJoin(F.broadcast(act)).select(
        "predicted_rows",
        "actual_rows",
        "n_join_keys",
        "max_key_fanout",
        (F.col("predicted_rows") == F.col("actual_rows")).alias(
            "exact_match"
        ),
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _correlations_oracle() -> str:
    from mpi_word_count_spark.functions.parity import sql_portable_round

    rows = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            rows.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"{sql_portable_round(f'corr({a}, {b})', 4)} AS pearson_r "
                "FROM lineitem"
            )
    return " UNION ALL ".join(rows) + " ORDER BY col_a, col_b"


@register("lineitem_correlations", oracle=_correlations_oracle())
def q_lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations across the lineitem measures —
    the feature-redundancy screen run before any modeling on fact
    columns (quantity/price correlation tells you whether both belong
    in a model; near-zero discount/tax correlations confirm the
    generator's independence). ALL six pairs compute in ONE aggregate
    pass over one scan (Spark evaluates the corr co-moment states
    side by side — never one scan per pair, which is what a naive
    loop issues); output is pairs², constant in table size. Floats
    floored at 4dp on both engines (co-moment summation order
    differs)."""
    li = table(spark, "lineitem", sf_dir)
    from mpi_word_count_spark.functions.parity import portable_round

    aggs = []
    names = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            aggs.append(portable_round(F.corr(a, b), 4).alias(f"r_{a}_{b}"))
            names.append((a, b))
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{a}', '{b}', r_{a}_{b}" for a, b in names
    )
    return wide.selectExpr(
        f"stack({len(names)}, {stack}) AS (col_a, col_b, pearson_r)"
    ).orderBy("col_a", "col_b")


# per-event-type inactivity gaps for dynamic sessionization (seconds):
# transactional events keep sessions alive longer than browse events
_DYN_GAPS = {"click": 900, "view": 900, "purchase": 3600, "refund": 3600}
_DYN_GAP_DEFAULT = 1800


def _dyn_gap_sql(col: str = "event_type") -> str:
    whens = " ".join(
        f"WHEN {col} = '{t}' THEN {g}" for t, g in sorted(_DYN_GAPS.items())
    )
    return f"(CASE {whens} ELSE {_DYN_GAP_DEFAULT} END)"


@register(
    "dynamic_gap_sessions",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, event_id,
               epoch(ts) + {_dyn_gap_sql()} AS expiry
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id,
               CASE WHEN max(expiry) OVER (
                        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR epoch(ts) >= max(expiry) OVER (
                        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    )
                    THEN 1 ELSE 0 END AS is_new
        FROM g
    )
    SELECT user_id,
           CAST(sum(is_new) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM marked GROUP BY user_id ORDER BY user_id
    """,
)
def q_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap sessionization: each event extends its session by
    an inactivity window that depends on the EVENT — transactional
    events (purchase/refund, 1h) hold sessions open longer than
    browse events (click/view, 15 min) — the per-event-gap form of
    F.session_window Spark supports natively (a gap COLUMN, not a
    constant). The session count uses the interval-merge semantics
    session_window defines: a new session starts exactly when an
    event's time reaches past every previous event's expiry, i.e.
    the running MAX of (ts + gap) over preceding rows — not just the
    previous row's expiry (a long-gap event can bridge over a short-
    gap one). The oracle replicates that recurrence with a running-
    max window; the Spark side uses the native session_window so the
    API itself is what gets verified.

    Scale shape: one user-keyed exchange for the session window —
    identical state/shuffle class to fixed-gap sessionization; gap
    lookup is an in-row CASE."""
    e = table(spark, "events", sf_dir)
    gap_expr = F.expr(_dyn_gap_sql("event_type"))
    sessions = e.groupBy(
        F.session_window("ts", F.concat(gap_expr, F.lit(" seconds"))),
        "user_id",
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )
