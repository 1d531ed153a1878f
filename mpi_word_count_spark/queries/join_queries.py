"""As-of and range joins registered for the driver gate (SURVEY.md
§2.4: the reference has no joins; these are the two flavors Spark
itself lacks as primitives, built as compositions in
operators/relational.py and oracle-checked against plain ANSI SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.relational import asof_join, range_join
from mpi_word_count_spark.registry import register
from mpi_word_count_spark.tables import table


@register(
    "events_last_order_asof",
    oracle="""
    SELECT e.event_id, e.user_id, epoch_us(max(o.o_orderdate)) AS last_order_us
    FROM events e LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    GROUP BY e.event_id, e.user_id
    """,
)
def q_events_last_order_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every event, the timestamp of that user's most
    recent order at event time (NULL if none yet). The operator is the
    union + last-value-carry-forward composition — one shuffle on
    (user, ts), never the O(n·m) inequality join the oracle runs."""
    e = table(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    o = table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("o_ts"),
        F.col("o_orderdate").alias("last_order_ts"),
    )
    joined = asof_join(e, o, on="user_id", left_ts="ts", right_ts="o_ts")
    return joined.select(
        "event_id",
        "user_id",
        # o_orderdate arrives as TIMESTAMP_NTZ; session TZ is UTC so the
        # cast is value-preserving
        F.unix_micros(F.col("last_order_ts").cast("timestamp")).alias(
            "last_order_us"
        ),
    )


@register(
    "lineitem_part_price_band",
    oracle="""
    SELECT p.p_partkey, count(*) AS n_lineitems,
           round(avg(l.l_quantity), 2) AS avg_qty
    FROM part p JOIN lineitem l
      ON l.l_extendedprice >= p.p_retailprice - 50
     AND l.l_extendedprice <  p.p_retailprice + 50
    GROUP BY p.p_partkey
    """,
)
def q_lineitem_part_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: lineitems whose extended price falls within ±50 of
    a part's retail price. The operator bucketizes both sides to
    width-100 bins and equi-joins on bin id — a shuffle hash join
    instead of the planner's broadcast-nested-loop for theta joins."""
    li = table(spark, "lineitem", sf_dir).select("l_extendedprice", "l_quantity")
    p = (
        table(spark, "part", sf_dir)
        .select("p_partkey", "p_retailprice")
        .withColumn("lo", F.col("p_retailprice") - 50)
        .withColumn("hi", F.col("p_retailprice") + 50)
        .drop("p_retailprice")
    )
    joined = range_join(li, p, "l_extendedprice", "lo", "hi", bucket_width=100.0)
    return joined.groupBy("p_partkey").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
    )


@register(
    "bucketed_revenue_by_status",
    oracle="""
    SELECT o.o_orderstatus,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_bucketed_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join — the write-once/join-many
    layout that removes the fact-fact shuffle entirely at 100 TB:
    both sides are written `bucketBy(16, orderkey).sortBy(orderkey)`,
    so the SortMergeJoin reads pre-hashed, pre-sorted buckets and no
    Exchange feeds it (asserted with broadcast disabled in
    tests/test_connectors_bucketing.py::test_bucketed_join_eliminates_shuffle;
    at this fixture scale AQE may legitimately pick a broadcast join
    instead — also shuffle-free, and bucketing takes over when the
    dimension side outgrows the broadcast threshold). The roundtrip
    through the warehouse tables is lossless, so the oracle joins the
    source tables directly."""
    import os as _os
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    ot, lt = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    # the warehouse DIRECTORY outlives the in-memory catalog: a fresh
    # session would hit LOCATION_ALREADY_EXISTS on saveAsTable, so drop
    # both the catalog entry and any orphaned location first
    wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    for t in (ot, lt):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if wh.scheme in ("file", ""):
            _shutil.rmtree(_os.path.join(wh.path, t), ignore_errors=True)
    orders = table(spark, "orders", sf_dir).select("o_orderkey", "o_orderstatus")
    li = table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders.write.mode("overwrite").bucketBy(16, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable(ot)
    li.write.mode("overwrite").bucketBy(16, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable(lt)
    o, l = spark.table(ot), spark.table(lt)
    joined = l.join(o, l["l_orderkey"] == o["o_orderkey"])
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@register(
    "salted_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted skew join (operators/skew.salted_join): the
    fact side spreads each key over 8 salt buckets, the dimension
    replicates 8×, the join runs on (key, salt) — the fix for hot
    keys AQE can't see (derived keys with no stats) or build sides
    just over the broadcast threshold. Salting is pure plumbing:
    result is row-identical to the plain join the oracle runs
    (equivalence also locked under synthetic 50%-hot-key skew in
    tests/test_connectors_bucketing.py)."""
    from mpi_word_count_spark.operators.skew import salted_join

    o = table(spark, "orders", sf_dir).select("o_custkey", "o_totalprice")
    c = table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    joined = salted_join(o, c, "o_custkey", "c_custkey", salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "overlapping_order_pairs",
    oracle="""
    WITH iv AS (
        SELECT o.o_custkey AS custkey, o.o_orderkey AS okey,
               o.o_orderdate AS s, m.e
        FROM orders o
        JOIN (SELECT l_orderkey, max(l_shipdate) AS e
              FROM lineitem GROUP BY 1) m
          ON m.l_orderkey = o.o_orderkey
        WHERE m.e >= o.o_orderdate
    )
    SELECT a.custkey, a.okey AS okey_a, b.okey AS okey_b,
           CAST(date_diff('day', greatest(a.s, b.s), least(a.e, b.e)) + 1
                AS BIGINT) AS overlap_days
    FROM iv a JOIN iv b
      ON a.custkey = b.custkey AND a.okey < b.okey
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def q_overlapping_order_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP pair join (interval×interval — the shape
    range_join's point-in-interval bucketing doesn't cover): pairs of
    the same customer's orders whose fulfillment windows
    [orderdate, max shipdate] overlap, with the overlap length.

    Scale path: each interval explodes into its covering year tiles
    and candidates equi-join on (customer, tile) — fan-out is bounded
    by interval length in tiles, never |orders|². Tile width is an
    explicit knob matched to the data: fixture fulfillment windows
    average ~3 years, so month tiles exploded 35× (4.1M tile rows at
    sf0.1) where year tiles cost 4.7× for the same join groups — set
    it near the median interval length. A pair sharing several tiles
    is emitted exactly once WITHOUT a distinct: only the canonical
    tile — the year of the later interval start, which both intervals
    provably cover — passes the filter, so no dedup shuffle exists. The oracle runs the direct overlap self-join as
    the semantic spec."""
    li_end = (
        table(spark, "lineitem", sf_dir)
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("e"))
    )
    o = table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    iv = (
        o.join(li_end, o["o_orderkey"] == li_end["l_orderkey"])
        .filter(F.col("e") >= F.col("o_orderdate"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderdate").alias("s"),
            "e",
        )
    )
    from mpi_word_count_spark.operators import materialize

    # both self-join sides read tiles: hold it so the lineitem
    # max-shipdate aggregate + orders join + tile explode run once,
    # not once per side (the before-plan materialized the identical
    # subtree twice)
    tiles = materialize(
        iv.withColumn(
            "tile",
            F.explode(
                F.sequence(
                    F.date_trunc("year", "s"),
                    F.date_trunc("year", "e"),
                    F.expr("INTERVAL 1 YEAR"),
                )
            ),
        )
    )
    a = tiles.alias("a")
    b = tiles.alias("b")
    canonical = F.date_trunc(
        "year", F.greatest(F.col("a.s"), F.col("b.s"))
    )
    pairs = a.join(
        b,
        (F.col("a.custkey") == F.col("b.custkey"))
        & (F.col("a.tile") == F.col("b.tile"))
        & (F.col("a.okey") < F.col("b.okey"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e"))
        & (F.col("a.tile") == canonical),
    )
    return pairs.select(
        F.col("a.custkey").alias("custkey"),
        F.col("a.okey").alias("okey_a"),
        F.col("b.okey").alias("okey_b"),
        (
            F.datediff(
                F.least(F.col("a.e"), F.col("b.e")),
                F.greatest(F.col("a.s"), F.col("b.s")),
            )
            + 1
        )
        .cast("bigint")
        .alias("overlap_days"),
    )
