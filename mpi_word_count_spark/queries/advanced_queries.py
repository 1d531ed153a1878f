"""Advanced coverage queries: strict reference-compat mode, exact
percentiles, GROUPING SETS (SQL API), scalar-function surface, and a
grouped-map Pandas UDAF — each oracle-checked.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.parity import sql_portable_round
from mpi_word_count_spark.operators.wordcount import word_count_compat
from mpi_word_count_spark.registry import register, sql_regex
from mpi_word_count_spark.tables import table

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


@register(
    "wordcount_compat",
    oracle=f"""
    SELECT word, count(*) AS count
    FROM (
        SELECT translate(substr(
                   unnest(regexp_split_to_array(text, '{sql_regex()}')),
                   1, 29), '{_UPPER}', '{_LOWER}') AS word
        FROM documents
    ) WHERE word <> ''
    GROUP BY word ORDER BY word
    """,
)
def q_wordcount_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact reference parity mode: 29-char key truncation
    (cell.h:1-4) + ASCII-only case folding (hash_map.c:27-28)."""
    return word_count_compat(table(spark, "documents", sf_dir), col="text")


@register(
    "order_price_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5)::DOUBLE, 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9)::DOUBLE, 2) AS p90,
           round(quantile_cont(o_totalprice, 0.99)::DOUBLE, 2) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    quantile_cont). At 100 TB switch to approx_percentile — noted as
    the approximate twin, not oracle-comparable across engines."""
    o = table(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
    )


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL API (same Catalyst plan
    as the DataFrame cube/rollup entries — exercised via spark.sql to
    cover the engine's SQL front door)."""
    table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_extendedprice), 2) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "scalar_function_sampler",
    oracle="""
    SELECT p_partkey,
           upper(substr(p_name, 1, 5)) AS s_upper,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS s_pad,
           replace(p_type, ' ', '_') AS s_replace,
           round(sqrt(p_retailprice), 4) AS n_sqrt,
           round(ln(p_retailprice + 1), 4) AS n_ln,
           CAST(mod(p_partkey, 7) AS BIGINT) AS n_mod,
           CAST(greatest(p_size, 25) AS BIGINT) AS n_greatest,
           coalesce(nullif(p_brand, 'Brand#1'), 'OTHER') AS s_branch
    FROM part
    """,
)
def q_scalar_function_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface in one projection (string/math/
    conditional — SURVEY.md §2.6 'absent in reference, free in
    Spark'). All JVM expressions, single codegen stage."""
    p = table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 5)).alias("s_upper"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("s_pad"),
        F.regexp_replace("p_type", " ", "_").alias("s_replace"),
        F.round(F.sqrt("p_retailprice"), 4).alias("n_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1), 4).alias("n_ln"),
        (F.col("p_partkey") % 7).cast("bigint").alias("n_mod"),
        F.greatest(F.col("p_size"), F.lit(25)).cast("bigint").alias("n_greatest"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#1")), F.lit("OTHER")).alias(
            "s_branch"
        ),
    )


@register(
    "customer_order_zscores",
    oracle=f"""
    WITH s AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               avg(o_totalprice) OVER w AS mu,
               stddev_samp(o_totalprice) OVER w AS sigma
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey)
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN sigma > 0
                THEN {sql_portable_round('(o_totalprice - mu) / sigma', 4)}
           END AS z
    FROM s
    """,
)
def q_customer_order_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDAF (applyInPandas): per-customer z-score
    of order totals — the engine's user-defined-aggregation surface
    (SURVEY.md §2.8; the reference's compile-time `item` interface,
    item.h:1-8, becomes a runtime pandas kernel). Arrow-batched; one
    shuffle on the group key."""
    o = table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["o_totalprice"].to_numpy()
        mu = x.mean()
        sigma = x.std(ddof=1) if len(x) > 1 else 0.0
        if sigma > 0:
            z = np.floor((x - mu) / sigma * 1e4 + 0.5) / 1e4  # portable round
        else:
            z = np.full(len(x), np.nan)
        return pd.DataFrame(
            {"o_orderkey": pdf["o_orderkey"], "o_custkey": pdf["o_custkey"], "z": z}
        )

    return o.groupBy("o_custkey").applyInPandas(
        zscore, schema="o_orderkey long, o_custkey long, z double"
    )


@register(
    "value_gini_by_event_type",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n,
               sum(value) OVER (PARTITION BY event_type) AS total
        FROM events
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           {sql_portable_round(
               "sum((2.0 * rn - n - 1) * value) / (max(n) * max(total))", 4
           )} AS gini
    FROM ranked
    GROUP BY event_type
    """,
)
def q_value_gini_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of event values per type — an aggregate
    Spark has no built-in for, expressed as a GROUPED_AGG pandas UDAF:
    Arrow ships each group's value column to one vectorized numpy
    kernel, partial results never touch the driver. (This completes
    the Arrow UDF surface: scalar pandas_udf = compression_ratios,
    applyInPandas = SimHash, mapInPandas = media kernels, GROUPED_AGG
    = here.) Gini is tie-stable — equal values are interchangeable
    across rank positions — so the sorted-rank formula is
    deterministic and the SQL oracle reproduces it with window ranks.
    """
    from pyspark.sql.functions import pandas_udf

    from mpi_word_count_spark.functions.parity import portable_round

    @pandas_udf("double")
    def gini(v: pd.Series) -> float:
        x = np.sort(v.to_numpy(dtype="float64"))
        n = len(x)
        tot = x.sum()
        if n == 0 or tot == 0.0:
            return 0.0
        i = np.arange(1, n + 1, dtype="float64")
        return float(((2.0 * i - n - 1.0) * x).sum() / (n * tot))

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # GROUPED_AGG UDFs can't mix with JVM aggregates in one agg;
        # the count rides the same Arrow batch instead of a second
        # aggregation pass
        return len(v)

    ev = table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        n_rows(F.col("value")).alias("n_events"),
        portable_round(gini(F.col("value")), 4).alias("gini"),
    )


@register(
    "lineitem_stats_moments",
    oracle=f"""
    SELECT p_type,
           CAST(count(*) AS BIGINT) AS n,
           {sql_portable_round("avg(l_quantity)", 4)} AS avg_qty,
           {sql_portable_round("stddev_samp(l_extendedprice)", 4)} AS std_price,
           {sql_portable_round("corr(l_quantity, l_extendedprice)", 4)} AS corr_qty_price,
           {sql_portable_round("covar_samp(l_quantity, l_discount)", 6)} AS covar_qty_disc,
           {sql_portable_round(
               "skewness(l_quantity) * (count(*) - 2)"
               " / sqrt(count(*) * (count(*) - 1.0))", 4)} AS skew_qty,
           {sql_portable_round(
               "(kurtosis(l_quantity) * (count(*) - 2) * (count(*) - 3)"
               " / (count(*) - 1.0) - 6) / (count(*) + 1)", 4)} AS kurt_qty
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_type
    ORDER BY p_type
    """,
)
def q_lineitem_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-moment aggregate surface per part type: stddev,
    Pearson correlation, sample covariance, skewness, kurtosis — the
    profile table a feature-engineering pass computes per slice. One
    broadcast dim join + one aggregation shuffle on a 6-value key;
    every moment is a single-pass co-moment merge (Spark's built-in
    update/merge aggregates), so 100 TB costs one scan.

    Cross-engine discipline: stddev/var/corr/covar agree bit-for-bit
    between Spark and DuckDB; skewness/kurtosis do NOT — Spark returns
    POPULATION moments (m3/m2^1.5, m4/m2²−3), DuckDB returns the
    sample-adjusted g1/G2 — so the oracle converts DuckDB's values to
    population form with the exact n-factor algebra (verified
    numerically before registration).
    """
    from mpi_word_count_spark.functions.parity import portable_round

    li = table(spark, "lineitem", sf_dir)
    p = table(spark, "part", sf_dir)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            portable_round(F.avg("l_quantity"), 4).alias("avg_qty"),
            portable_round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
            portable_round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "corr_qty_price"
            ),
            portable_round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
                "covar_qty_disc"
            ),
            portable_round(F.skewness("l_quantity"), 4).alias("skew_qty"),
            portable_round(F.kurtosis("l_quantity"), 4).alias("kurt_qty"),
        )
        .orderBy("p_type")
    )


def _zorder_oracle() -> str:
    from mpi_word_count_spark.operators.layout import morton_key_sql

    return f"""
    SELECT event_id, xb, yb, zkey, zkey >> 8 AS zbucket
    FROM (
        SELECT event_id, xb, yb,
               {morton_key_sql("xb", "yb")} AS zkey
        FROM (
            SELECT event_id,
                   CAST(user_id % 256 AS BIGINT) AS xb,
                   CAST(dayofyear(ts) % 256 AS BIGINT) AS yb
            FROM events
        )
    )
    """


@register("events_zorder_keys", oracle=_zorder_oracle())
def q_events_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over two independent query
    dimensions (user bucket × day-of-year): the multi-dimensional
    layout key behind lakehouse OPTIMIZE ZORDER, as pure integer
    bit-interleaving — bit-identical in Spark, DuckDB, and the Python
    reference. Pure projection (no shuffle); writing partitioned by
    zbucket turns 2-D range predicates into partition pruning
    (tests/test_connectors_bucketing.py proves the pruning and the
    aligned-box contiguity property)."""
    from mpi_word_count_spark.operators.layout import zorder_keys
    from mpi_word_count_spark.tables import table

    ev = table(spark, "events", sf_dir).select(
        "event_id",
        F.expr("CAST(user_id % 256 AS BIGINT)").alias("xb"),
        F.expr("CAST(dayofyear(ts) % 256 AS BIGINT)").alias("yb"),
    )
    return zorder_keys(ev, "xb", "yb", tile_bits=4)


GAPFILL_EVENT_TYPE = "purchase"


@register(
    "events_hourly_gapfill",
    oracle=f"""
    WITH b AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events WHERE event_type = '{GAPFILL_EVENT_TYPE}'
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
    ),
    c AS (
        SELECT date_trunc('hour', ts) AS hour, count(*) AS n
        FROM events WHERE event_type = '{GAPFILL_EVENT_TYPE}'
        GROUP BY 1
    )
    SELECT strftime(spine.hour, '%Y-%m-%d %H:00:00') AS hour,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
    FROM spine LEFT JOIN c ON spine.hour = c.hour
    ORDER BY 1
    """,
)
def q_events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gap filling: a dense hourly spine between the
    series' bounds, left-joined to the sparse per-hour counts with
    zeros for silent hours — the resample/fill step every time-series
    rollup needs before charting or windowed modeling.

    The spine derives from a single-row bounds aggregate exploded
    through sequence() — spine size is (hours of history), independent
    of event volume, so at 100 TB the only full-scan work is the
    pushed-filter count aggregation; the spine join is a broadcast of
    a few thousand rows against the already-aggregated counts."""
    from mpi_word_count_spark.tables import table

    ev = table(spark, "events", sf_dir).filter(
        F.col("event_type") == GAPFILL_EVENT_TYPE
    )
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = ev.agg(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    counts = ev.groupBy(hour.alias("hour")).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.join(counts, "hour", "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:00:00").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
        .orderBy("hour")
    )


@register(
    "lineitem_unpivot_metrics",
    oracle="""
    SELECT l_returnflag, metric,
           round(sum(value), 2) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT l_returnflag, 'quantity' AS metric, l_quantity AS value
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
    )
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_lineitem_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long melt) via stack(): three metric columns
    become (metric, value) rows in ONE scan — the inverse of
    orders_status_pivot, completing the reshape surface. stack() is a
    Generate node over the single pass, not a 3× UNION re-scan (the
    oracle's UNION ALL formulation re-reads the table per metric;
    DuckDB's scan is cheap at fixture scale, but at 100 TB the
    stack()/UNPIVOT form is the one that reads once — which is why
    the Spark side uses it)."""
    li = table(spark, "lineitem", sf_dir)
    melted = li.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'quantity', l_quantity, "
            "'extendedprice', l_extendedprice, "
            "'discount', l_discount) AS (metric, value)"
        ),
    )
    return (
        melted.groupBy("l_returnflag", "metric")
        .agg(
            F.round(F.sum("value"), 2).alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag", "metric")
    )


@register(
    "scd2_customer_upsert",
    oracle="""
    WITH batch AS (
        -- deterministic change batch derived from the fixture itself:
        -- every 10th customer gets a +100.00 balance restatement, and
        -- five brand-new keys arrive past the current key ceiling
        SELECT c_custkey, round(c_acctbal + 100.0, 2) AS new_acctbal
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT mx + i AS c_custkey, round(1000.0 + i, 2) AS new_acctbal
        FROM (SELECT max(c_custkey) AS mx FROM customer),
             unnest(generate_series(1, 5)) AS g(i)
    )
    SELECT c.c_custkey, round(c.c_acctbal, 2) AS c_acctbal,
           1 AS version, (b.c_custkey IS NULL) AS is_current
    FROM customer c LEFT JOIN batch b USING (c_custkey)
    UNION ALL
    SELECT b.c_custkey, b.new_acctbal AS c_acctbal,
           CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 2 END AS version,
           true AS is_current
    FROM batch b LEFT JOIN customer c USING (c_custkey)
    """,
)
def q_scd2_customer_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style SCD type-2 dimension maintenance without a
    transactional table format: apply a change batch to the customer
    dimension, closing the old version of updated keys and appending
    the new version, inserting unseen keys at version 1.

    One full-outer join on the dimension key does all three MERGE
    branches (update/insert/unchanged) in a single pass — the
    classic foreachBatch-upsert shape. Dimensions are small relative
    to facts, so at 100 TB this is a broadcast or a single co-located
    shuffle; the rewrite cost is dimension-sized, never fact-sized.
    The change batch is derived deterministically from the fixture so
    the oracle reconstructs it bit-for-bit."""
    c = table(spark, "customer", sf_dir).select("c_custkey", "c_acctbal")
    mx = c.agg(F.max("c_custkey").alias("mx"))
    news = mx.select(
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("i"), "mx"
    ).select(
        (F.col("mx") + F.col("i")).alias("c_custkey"),
        F.round(1000.0 + F.col("i"), 2).alias("new_acctbal"),
    )
    batch = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey", F.round(F.col("c_acctbal") + 100.0, 2).alias("new_acctbal")
        )
        .unionAll(news)
    )
    merged = c.join(batch, "c_custkey", "full_outer")
    # emit the (up to) two output versions of each key from ONE pass
    # over the joined row — a union of two filtered selects would run
    # the full-outer join once per branch
    old_v = F.when(
        F.col("c_acctbal").isNotNull(),
        F.struct(
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.lit(1).alias("version"),
            F.col("new_acctbal").isNull().alias("is_current"),
        ),
    )
    new_v = F.when(
        F.col("new_acctbal").isNotNull(),
        F.struct(
            F.col("new_acctbal").alias("c_acctbal"),
            F.when(F.col("c_acctbal").isNull(), F.lit(1))
            .otherwise(F.lit(2))
            .alias("version"),
            F.lit(True).alias("is_current"),
        ),
    )
    return merged.select(
        "c_custkey",
        F.explode(
            F.filter(F.array(old_v, new_v), lambda x: x.isNotNull())
        ).alias("r"),
    ).select("c_custkey", "r.c_acctbal", "r.version", "r.is_current")


@register(
    "events_rollup_cascade",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DECIMAL(24, 6))
               AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade (the materialized-view rollup
    pattern): minute-level partial aggregates re-aggregate to hours,
    hours to days — the day result NEVER rescans raw events.

    This is how 100 TB rollups stay cheap: the finest grain is
    computed once and every coarser grain merges kilobyte aggregate
    rows (counts add; sums add). Exactness under re-association is
    guaranteed by DECIMAL accumulation — double sums would drift with
    the merge order, which is precisely what this query exists to
    prove safe. The oracle aggregates raw events directly at day
    grain: cascade == direct is the mergeability proof. The final
    presentation cast to DOUBLE (both sides) exists for the driver's
    pandas canonicalizer — object-dtype Decimal cells vs DuckDB's
    float64 landing type-mismatch the value hash (the
    decimal_pricing_summary / q9_product_profit pattern; r4 red)."""
    e = table(spark, "events", sf_dir).select(
        F.date_trunc("minute", "ts").alias("minute"),
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    by_minute = e.groupBy("minute", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    by_hour = (
        by_minute.withColumn("hour", F.date_trunc("hour", "minute"))
        .groupBy("hour", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
        )
    )
    by_day = (
        by_hour.withColumn("day", F.date_trunc("day", "hour"))
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
        )
    )
    return by_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        F.col("total_value")
        .cast("decimal(24,6)")
        .cast("double")
        .alias("total_value"),
    )


_COGROUP_SCHEMA = (
    "user_id bigint, n_events bigint, n_orders bigint, "
    "event_value double, order_value double"
)


def _cogroup_user_totals_kernel(key, ev: pd.DataFrame, od: pd.DataFrame) -> pd.DataFrame:
    """Per-key two-sided kernel: both sides of one user arrive as
    pandas frames. Rounding uses the repo's floor-based half-up
    (functions/parity.py) so the python arithmetic matches the SQL
    oracle at half-way points."""

    def r2(x: float) -> float:
        return float(np.floor(x * 100.0 + 0.5) / 100.0)

    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [len(ev)],
            "n_orders": [len(od)],
            "event_value": [r2(float(ev["value"].sum())) if len(ev) else 0.0],
            "order_value": [
                r2(float(od["o_totalprice"].sum())) if len(od) else 0.0
            ],
        }
    )


@register(
    "cogrouped_user_totals",
    oracle=f"""
    WITH e AS (
        SELECT user_id, count(*) AS n_events,
               {sql_portable_round("sum(value)", 2)} AS event_value
        FROM events GROUP BY user_id
    ), o AS (
        SELECT o_custkey AS user_id, count(*) AS n_orders,
               {sql_portable_round("sum(o_totalprice)", 2)} AS order_value
        FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(e.user_id, o.user_id) AS user_id,
           coalesce(e.n_events, 0) AS n_events,
           coalesce(o.n_orders, 0) AS n_orders,
           coalesce(e.event_value, 0.0) AS event_value,
           coalesce(o.order_value, 0.0) AS order_value
    FROM e FULL JOIN o ON e.user_id = o.user_id
    """,
)
def q_cogrouped_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogroup API surface: `groupBy(k).cogroup(other.groupBy(k))
    .applyInPandas` hands BOTH sides of each key to one Arrow-batched
    kernel — the escape hatch for per-key two-sided logic no join
    expresses (custom as-of matching, per-key reconciliation,
    sequence alignment). The demonstration kernel computes per-user
    event/order totals, so a plain FULL JOIN of two aggregates is the
    oracle and every value is hash-checkable. Keys on either side
    appear exactly once (cogroup semantics == full outer). One
    shuffle per side on the key; at 100 TB this is the same exchange
    profile as the equivalent join, plus the Python worker hop that
    buys arbitrary kernel logic."""
    e = table(spark, "events", sf_dir).select("user_id", "value")
    o = table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("user_id"), "o_totalprice"
    )
    return (
        e.groupBy("user_id")
        .cogroup(o.groupBy("user_id"))
        .applyInPandas(_cogroup_user_totals_kernel, _COGROUP_SCHEMA)
    )




def _basket_pairs(li: DataFrame):
    """Shared basket machinery for the market-basket queries: the
    distinct (order, supplier) item table — MATERIALIZED, because the
    rules query reads it for baskets, item marginals, and the basket
    total (unheld, the corpus scan + distinct ran once per subtree) — and
    the unordered within-basket pairs generated in-row."""
    from mpi_word_count_spark.operators import materialize

    s = materialize(li.select("l_orderkey", "l_suppkey").distinct())
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
                    F.element_at(ss, i).alias("s1"),
                    F.element_at(ss, j).alias("s2"),
                ),
            ),
        )
    )
    pairs = baskets.select(F.explode(pairs_col).alias("p")).select(
        "p.s1", "p.s2"
    )
    return s, pairs

@register(
    "supplier_basket_pairs",
    oracle="""
    WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
           CAST(count(*) AS BIGINT) AS support
    FROM s a
    JOIN s b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
    ORDER BY support DESC, s1, s2
    LIMIT 25
    """,
)
def q_supplier_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (frequent-itemset level 2): the
    top-25 supplier pairs that appear together in the most orders —
    the support-counting core of A-priori/FP-growth.

    Scale shape: pairs generate INSIDE each order's sorted item array
    (groupBy order → collect_set → nested transform), so the fan-out
    is Σ k_i²/2 bounded by the per-basket item count (~4 avg, 13 max
    here) — never the self-join the oracle runs, whose shuffle would
    carry every (order, item) row twice. One basket shuffle + one
    pair-count shuffle, top-k via TakeOrdered. The declarative
    self-join oracle and the in-row generation provably enumerate the
    same pairs (distinct items, a < b)."""
    _, pairs = _basket_pairs(table(spark, "lineitem", sf_dir))
    return (
        pairs.groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), F.asc("s1"), F.asc("s2"))
        .limit(25)
    )


@register(
    "supplier_basket_rules",
    oracle=f"""
    WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM s),
    item AS (SELECT l_suppkey, count(*) AS c FROM s GROUP BY 1),
    pair AS (
        SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
               CAST(count(*) AS BIGINT) AS support
        FROM s a
        JOIN s b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    )
    SELECT p.s1, p.s2, p.support,
           {sql_portable_round('p.support / i1.c', 4)} AS confidence,
           {sql_portable_round('(p.support / i1.c) / (i2.c / n.n_baskets)', 4)}
               AS lift
    FROM pair p
    JOIN item i1 ON i1.l_suppkey = p.s1
    JOIN item i2 ON i2.l_suppkey = p.s2
    CROSS JOIN n
    ORDER BY p.support DESC, p.s1, p.s2
    LIMIT 25
    """,
)
def q_supplier_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules s1 → s2 over the order baskets: confidence
    = support(s1,s2)/support(s1) and lift = confidence /
    P(s2) — the rule-mining step on top of supplier_basket_pairs'
    support counts (min support 3 so the ratios are stable).

    Scale shape: pair supports via the same in-row basket generation;
    item supports and the basket total are |items|- and 1-row tables
    joined back by broadcast — nothing beyond the two basket-family
    shuffles. The top-k cutoff stays on (support, pair) integers."""
    from mpi_word_count_spark.functions.parity import portable_round

    s, pairs = _basket_pairs(table(spark, "lineitem", sf_dir))
    n_baskets = s.agg(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    item = s.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("c"))
    pair = (
        pairs.groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    i1 = item.select(F.col("l_suppkey").alias("s1"), F.col("c").alias("c1"))
    i2 = item.select(F.col("l_suppkey").alias("s2"), F.col("c").alias("c2"))
    conf = F.col("support") / F.col("c1")
    lift = conf / (F.col("c2") / F.col("n_baskets"))
    return (
        pair.join(F.broadcast(i1), "s1")
        .join(F.broadcast(i2), "s2")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "s1",
            "s2",
            "support",
            portable_round(conf, 4).alias("confidence"),
            portable_round(lift, 4).alias("lift"),
        )
        .orderBy(F.desc("support"), F.asc("s1"), F.asc("s2"))
        .limit(25)
    )


@register(
    "events_seasonal_anomalies",
    oracle="""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS event_date,
               CAST(hour(ts) AS BIGINT) AS hod, count(*) AS n_events
        FROM events GROUP BY 1, 2, 3
    ),
    baseline AS (
        SELECT event_type, hod,
               CAST(sum(n_events) AS BIGINT) AS total_slot,
               count(*) AS n_days
        FROM daily GROUP BY 1, 2
    )
    SELECT d.event_type, d.event_date, d.hod AS hour, d.n_events,
           b.total_slot, b.n_days,
           CASE WHEN 2 * d.n_events * b.n_days > 3 * b.total_slot
                THEN 'high' ELSE 'low' END AS direction
    FROM daily d JOIN baseline b
      ON d.event_type = b.event_type AND d.hod = b.hod
    WHERE 2 * d.n_events * b.n_days > 3 * b.total_slot
       OR 2 * d.n_events * b.n_days < b.total_slot
    """,
)
def q_events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day) anomaly detection: per (event_type,
    date, hour) counts compared against that slot's cross-day
    baseline; hours busier than 1.5× or quieter than 0.5× their
    seasonal mean are flagged. All comparisons are integer
    cross-multiplications (2·n·days vs 3·total), so the verdict is
    engine-exact — no floating mean ever materializes. The complement
    of events_cusum_drift: CUSUM finds sustained level SHIFTS, this
    finds slot-local outliers against a repeating profile.

    Scale shape: one count aggregation over (type, date, hour) — the
    only corpus-sized stage, with partial aggregation before the
    exchange — then a baseline rollup and join over slot rows
    (types × 24 × days), which at 100 TB is still dashboard-sized.
    Absent (zero-count) hours are events_hourly_gapfill's domain.
    """
    ev = table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    baseline = daily.groupBy("event_type", "hod").agg(
        F.sum("n_events").cast("bigint").alias("total_slot"),
        F.count(F.lit(1)).alias("n_days"),
    )
    j = daily.join(baseline, ["event_type", "hod"])
    lhs = 2 * F.col("n_events") * F.col("n_days")
    return (
        j.filter(
            (lhs > 3 * F.col("total_slot")) | (lhs < F.col("total_slot"))
        )
        .select(
            "event_type",
            "event_date",
            F.col("hod").alias("hour"),
            "n_events",
            "total_slot",
            "n_days",
            F.when(lhs > 3 * F.col("total_slot"), F.lit("high"))
            .otherwise(F.lit("low"))
            .alias("direction"),
        )
    )


@register(
    "event_type_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    marg AS (
        SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
        FROM pairs GROUP BY 1
    )
    SELECT p.prev_type, p.next_type, p.n,
           CAST((10000 * p.n) // m.n_from AS BIGINT) AS prob_bp
    FROM pairs p JOIN marg m ON p.prev_type = m.prev_type
    """,
)
def q_event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (the behavioral bigram
    LM): counts of consecutive (prev → next) event types within each
    user's timeline, with the row-conditional probability in integer
    basis points — the statistic behind next-action models and
    funnel-shape drift monitoring. The lag order is total
    ((ts, event_id) — event_id breaks timestamp ties), so the result
    is partitioning-invariant.

    Scale shape: ONE user-keyed window shuffle (state = one previous
    row per user), then aggregates over the |types|² transition
    cells — constant-sized output however large the event log.
    """
    from pyspark.sql import Window

    ev = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = ordered.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    marg = pairs.groupBy("prev_type").agg(
        F.sum("n").cast("bigint").alias("n_from")
    )
    return (
        pairs.join(F.broadcast(marg), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("(10000 * n) div n_from").alias("prob_bp"),
        )
    )


@register(
    "transition_dwell_times",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER w AS prev_type,
               date_diff('second', lag(ts) OVER w, ts) AS dwell_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ranked AS (
        SELECT prev_type, event_type AS next_type, dwell_s,
               row_number() OVER (PARTITION BY prev_type, event_type
                                  ORDER BY dwell_s) AS rn,
               count(*) OVER (PARTITION BY prev_type, event_type) AS n
        FROM ordered WHERE prev_type IS NOT NULL
    )
    SELECT prev_type, next_type,
           CAST(max(n) AS BIGINT) AS n_transitions,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN dwell_s END) AS BIGINT)
               AS p50_dwell_s,
           CAST(max(CASE WHEN rn = (n * 9 + 9) // 10 THEN dwell_s END)
                AS BIGINT) AS p90_dwell_s
    FROM ranked GROUP BY 1, 2
    """,
)
def q_transition_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dwell-time distribution per event transition: DISCRETE
    p50/p90 seconds between consecutive events of each (prev → next)
    type pair — the timing companion to event_type_transitions
    (which action users stall before). Discrete row_number-selected
    order statistics (the ship_latency_percentiles idiom), so the
    verdict is engine-exact; truncation to whole seconds keeps the
    sort key integer.

    Scale shape: one user-keyed window (lag), one transition-keyed
    window (rank) — the second partitions on |types|² keys, so at
    100 TB it reruns per (pair, day) to bound partition width, same
    as the latency query.
    """
    from pyspark.sql import Window

    ev = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("dwell_s"),
    ).filter(F.col("prev_type").isNotNull())
    wp = Window.partitionBy("prev_type", "next_type")
    ranked = ordered.select(
        "prev_type",
        "next_type",
        "dwell_s",
        F.row_number().over(wp.orderBy("dwell_s")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    pick = lambda expr: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(expr), F.col("dwell_s"))
    ).cast("bigint")
    return ranked.groupBy("prev_type", "next_type").agg(
        F.max("n").cast("bigint").alias("n_transitions"),
        pick("(n + 1) div 2").alias("p50_dwell_s"),
        pick("(n * 9 + 9) div 10").alias("p90_dwell_s"),
    )


@register(
    "udtf_char_ngrams",
    oracle="""
    SELECT gram, count(*) AS n FROM (
        SELECT substr(s, i, 3) AS gram
        FROM (SELECT substr(lower(text), 1, 200) AS s FROM documents),
             UNNEST(generate_series(1, greatest(length(s) - 2, 0))) AS t(i)
    ) GROUP BY gram ORDER BY gram
    """,
)
def q_udtf_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 4 UDTF) — the one
    Python extension surface the engine hadn't exercised: a row-to-
    rows generator invoked through SQL `LATERAL`, here emitting
    character trigrams of each document's first 200 chars (the
    language-ID feature primitive, cf. operators/textanalysis lang_id
    which inlines the same trigrams as JVM expressions).

    Scale shape: the UDTF fans out ≤198 rows per document inside the
    scan stage (no shuffle until the count agg), and the 200-char cap
    bounds per-row work; for full-text trigrams at 100 TB the JVM
    sequence/transform/explode twin in textanalysis.py is the fast
    path — this entry exists to verify the UDTF surface itself
    against an oracle.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="gram: string")
    class CharNgrams:
        def eval(self, text: str):  # noqa: ANN001
            if text is None:
                return
            s = text.lower()[:200]
            for i in range(len(s) - 2):
                yield (s[i : i + 3],)

    spark.udtf.register("char_ngrams", CharNgrams)
    table(spark, "documents", sf_dir).createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT gram, count(*) AS n
        FROM documents, LATERAL char_ngrams(text)
        GROUP BY gram ORDER BY gram
        """
    )


@register(
    "lateral_order_stats",
    oracle="""
    SELECT c.c_custkey, s.n_orders, round(s.max_price, 2) AS max_price
    FROM customer c,
    LATERAL (SELECT count(*) AS n_orders, max(o_totalprice) AS max_price
             FROM orders o WHERE o.o_custkey = c.c_custkey) s
    """,
)
def q_lateral_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:2016 lateral join) — the last
    unexercised decorrelation path: an aggregate subquery in the FROM
    clause referencing the outer row. Catalyst decorrelates it into
    the same left-outer aggregate join the window/groupBy twins use
    (customer_order_counts_outer), so the surface is free at scale;
    the zero-order customer keeps a row with (0, NULL) because an
    ungrouped aggregate always yields one row — the semantic that
    distinguishes LATERAL from a plain inner join.
    """
    for name in ("customer", "orders"):
        table(spark, name, sf_dir).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT c.c_custkey, s.n_orders, round(s.max_price, 2) AS max_price
        FROM customer c,
        LATERAL (SELECT count(*) AS n_orders, max(o_totalprice) AS max_price
                 FROM orders o WHERE o.o_custkey = c.c_custkey) s
        """
    )


@register(
    "hof_array_sampler",
    oracle="""
    SELECT vec_id,
           CAST(length(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           round(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2,
           length(list_filter(embedding, x -> x > 0.5)) > 0 AS has_big,
           array_to_string(list_transform(embedding[1:3],
               x -> CAST(CAST(round(CAST(x AS DOUBLE) * 20000) AS BIGINT)
                         AS VARCHAR)), ',') AS head_scaled
    FROM embeddings
    """,
)
def q_hof_array_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface in one projection:
    `filter`/`size`, `aggregate` (fold), `exists`, `transform`/`slice`
    — the lambda expressions that keep array work JVM-side instead of
    in Python UDFs (SURVEY.md §2.6 extension surface; the ANN/dedup
    operators use these same primitives in anger, this entry verifies
    the primitives themselves against DuckDB's list lambdas).

    The sliced head is emitted as a CSV of half-up-rounded scaled
    integers because the driver canonicalizer rejects array cells;
    scaling to ints sidesteps cross-engine float-to-string formatting.
    Scale shape: pure scan-local expression work, no shuffle, codegen
    throughout — the cheapest possible 100 TB plan for per-row array
    metrics.
    """
    table(spark, "embeddings", sf_dir).createOrReplaceTempView("embeddings")
    return spark.sql(
        """
        SELECT vec_id,
               size(filter(embedding, x -> x > 0)) AS n_pos,
               round(sqrt(aggregate(embedding, 0D,
                   (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   4) AS l2,
               exists(embedding, x -> x > 0.5) AS has_big,
               concat_ws(',', transform(slice(embedding, 1, 3),
                   x -> CAST(CAST(round(CAST(x AS DOUBLE) * 20000) AS BIGINT)
                             AS STRING))) AS head_scaled
        FROM embeddings
        """
    )


def _ab_oracle() -> str:
    from mpi_word_count_spark.functions.hashing import sql_hash32

    assign = sql_hash32("CAST(user_id AS VARCHAR)", "ab")
    mean = sql_portable_round("sum_v / n_events", 4)
    sd = sql_portable_round(
        "sqrt((sumsq_v - sum_v * sum_v / n_events) / (n_events - 1))", 4
    )
    return f"""
    WITH assigned AS (
        SELECT CASE WHEN {assign} % 2 = 0 THEN 'control'
                    ELSE 'treatment' END AS variant,
               user_id, value
        FROM events
    ),
    agg AS (
        SELECT variant,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               sum(value) AS sum_v,
               sum(value * value) AS sumsq_v
        FROM assigned GROUP BY 1
    ),
    stats AS (
        SELECT variant, n_events, n_users,
               {mean} AS mean_value, {sd} AS stddev_value
        FROM agg
    ),
    ctl AS (SELECT mean_value AS m0 FROM stats WHERE variant = 'control')
    SELECT s.variant, s.n_events, s.n_users, s.mean_value, s.stddev_value,
           CAST(floor(1000.0 * (s.mean_value - ctl.m0) / ctl.m0 + 0.5)
                AS BIGINT) AS lift_milli
    FROM stats s CROSS JOIN ctl
    ORDER BY s.variant
    """


@register("ab_test_readout", oracle=_ab_oracle())
def q_ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over the event stream: users are
    assigned to control/treatment by a DETERMINISTIC portable hash
    (md5-derived, seed 'ab') — the assignment every experimentation
    platform needs to reproduce across engines, backfills, and SQL
    audits (never Math.random, never row order). Per variant: event
    and distinct-user counts, mean and sample stddev of the metric,
    and lift vs control in integer milli.

    Scale shape: one scan + one 2-group aggregate (count-distinct adds
    the usual Expand); the 2-row variant table broadcasts to itself
    for the lift join. Nothing but the aggregate ever shuffles, and
    the readout is O(variants) however large the event log."""
    from mpi_word_count_spark.functions.hashing import hash32
    from mpi_word_count_spark.functions.parity import portable_round

    e = table(spark, "events", sf_dir)
    assigned = e.select(
        F.when(
            hash32(F.col("user_id").cast("string"), seed="ab") % 2 == 0,
            F.lit("control"),
        )
        .otherwise(F.lit("treatment"))
        .alias("variant"),
        "user_id",
        "value",
    )
    agg = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value").alias("sum_v"),
        F.sum(F.col("value") * F.col("value")).alias("sumsq_v"),
    )
    stats = agg.select(
        "variant",
        "n_events",
        "n_users",
        portable_round(F.col("sum_v") / F.col("n_events")).alias("mean_value"),
        portable_round(
            F.sqrt(
                (
                    F.col("sumsq_v")
                    - F.col("sum_v") * F.col("sum_v") / F.col("n_events")
                )
                / (F.col("n_events") - 1)
            )
        ).alias("stddev_value"),
    )
    ctl = stats.filter(F.col("variant") == "control").select(
        F.col("mean_value").alias("m0")
    )
    return (
        stats.crossJoin(F.broadcast(ctl))
        .select(
            "variant",
            "n_events",
            "n_users",
            "mean_value",
            "stddev_value",
            F.floor(
                F.lit(1000.0) * (F.col("mean_value") - F.col("m0")) / F.col("m0")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lift_milli"),
        )
        .orderBy("variant")
    )


_ZAUDIT_FILES = 64


def _ntile_files(keyed, n_row, layout: str, bucket, order_cols):
    """One simulated-layout file assignment WITHOUT the global ntile
    window: ntile(k) over a total order is the closed form
    (rank−1)·k DIV n + 1 (SQL NTILE's first-groups-one-extra rule),
    with rank from the bucket-offset decomposition and n a 1-row
    broadcast. A real OPTIMIZE ZORDER pays a repartitionByRange sort,
    not a one-partition window — this is the plan shape that
    simulation should have too. The oracles keep literal ntile(), so
    the hash match proves the closed form per layout."""
    from mpi_word_count_spark.operators.ranking import bucketed_global_rank

    from mpi_word_count_spark.operators.ranking import ntile_from_rank

    r = bucketed_global_rank(keyed, bucket, order_cols, rank_col="_rk")
    return r.crossJoin(F.broadcast(n_row)).select(
        F.lit(layout).alias("layout"),
        "xb",
        "yb",
        ntile_from_rank("_rk", "_n", _ZAUDIT_FILES).alias("f"),
    )


def _zorder_audit_oracle() -> str:
    from mpi_word_count_spark.operators.layout import morton_key_sql

    return f"""
    WITH base AS (
        SELECT event_id, ts,
               CAST(user_id % 256 AS BIGINT) AS xb,
               CAST(dayofyear(ts) % 256 AS BIGINT) AS yb
        FROM events
    ),
    keyed AS (
        SELECT *, {morton_key_sql("xb", "yb")} AS zkey FROM base
    ),
    filed AS (
        SELECT 'zorder' AS layout, xb, yb,
               ntile({_ZAUDIT_FILES}) OVER (ORDER BY zkey, event_id) AS f
        FROM keyed
        UNION ALL
        SELECT 'linear_ts', xb, yb,
               ntile({_ZAUDIT_FILES}) OVER (ORDER BY ts, event_id) AS f
        FROM keyed
    ),
    stats AS (
        SELECT layout, f,
               min(xb) AS lo_x, max(xb) AS hi_x,
               min(yb) AS lo_y, max(yb) AS hi_y
        FROM filed GROUP BY 1, 2
    ),
    px AS (SELECT DISTINCT xb AS probe FROM base),
    py AS (SELECT DISTINCT yb AS probe FROM base),
    tx AS (
        SELECT s.layout, 'user_bucket' AS dimension,
               CAST(count(DISTINCT p.probe) AS BIGINT) AS n_probes,
               CAST(count(*) AS BIGINT) AS files_touched
        FROM px p JOIN stats s ON p.probe BETWEEN s.lo_x AND s.hi_x
        GROUP BY 1
    ),
    ty AS (
        SELECT s.layout, 'day_bucket' AS dimension,
               CAST(count(DISTINCT p.probe) AS BIGINT) AS n_probes,
               CAST(count(*) AS BIGINT) AS files_touched
        FROM py p JOIN stats s ON p.probe BETWEEN s.lo_y AND s.hi_y
        GROUP BY 1
    )
    SELECT layout, dimension, n_probes, files_touched,
           CAST(1000 * files_touched // n_probes AS BIGINT)
               AS avg_files_per_probe_milli
    FROM (SELECT * FROM tx UNION ALL SELECT * FROM ty)
    ORDER BY layout, dimension
    """


@register("zorder_skipping_audit", oracle=_zorder_audit_oracle())
def q_zorder_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness, MEASURED: simulate a 64-file table
    under two physical layouts — z-order (Morton over user×day) and
    time-linear — compute each file's min/max zone map per dimension,
    and for every occurring point predicate count how many files its
    value range fails to exclude. The quantified case for OPTIMIZE
    ZORDER: the linear layout skips nothing on the non-sort dimension
    (every file's user range spans everything), while z-order bounds
    BOTH dimensions; the all-integer output is the exact
    files-per-probe cost a reader pays under each layout.

    Scale shape: file assignment is the closed-form ntile over
    bucket-offset ranks (_ntile_files — zkey DIV 64 / calendar-day
    buckets), never a one-partition window; a real OPTIMIZE pays a
    repartitionByRange sort with exactly this distribution. Zone-map
    stats are 64 rows per layout, probes at most 256 per dimension,
    so everything downstream is dashboard-sized."""
    from mpi_word_count_spark.operators.layout import morton_key_sql

    base = table(spark, "events", sf_dir).select(
        "event_id",
        "ts",
        F.expr("CAST(user_id % 256 AS BIGINT)").alias("xb"),
        F.expr("CAST(dayofyear(ts) % 256 AS BIGINT)").alias("yb"),
    )
    keyed = base.withColumn("zkey", F.expr(morton_key_sql("xb", "yb")))
    n_row = keyed.agg(F.count(F.lit(1)).alias("_n"))
    filed = _ntile_files(
        keyed,
        n_row,
        "zorder",
        F.expr("zkey DIV 64"),
        [F.asc("zkey"), F.asc("event_id")],
    ).unionByName(
        _ntile_files(
            keyed,
            n_row,
            "linear_ts",
            F.date_trunc("day", F.col("ts")),
            [F.asc("ts"), F.asc("event_id")],
        )
    )
    stats = filed.groupBy("layout", "f").agg(
        F.min("xb").alias("lo_x"),
        F.max("xb").alias("hi_x"),
        F.min("yb").alias("lo_y"),
        F.max("yb").alias("hi_y"),
    )
    px = base.select(F.col("xb").alias("probe")).distinct()
    py = base.select(F.col("yb").alias("probe")).distinct()
    tx = (
        px.join(
            stats,
            (F.col("probe") >= F.col("lo_x"))
            & (F.col("probe") <= F.col("hi_x")),
        )
        .groupBy("layout")
        .agg(
            F.countDistinct("probe").alias("n_probes"),
            F.count(F.lit(1)).alias("files_touched"),
        )
        .select("layout", F.lit("user_bucket").alias("dimension"),
                "n_probes", "files_touched")
    )
    ty = (
        py.join(
            stats,
            (F.col("probe") >= F.col("lo_y"))
            & (F.col("probe") <= F.col("hi_y")),
        )
        .groupBy("layout")
        .agg(
            F.countDistinct("probe").alias("n_probes"),
            F.count(F.lit(1)).alias("files_touched"),
        )
        .select("layout", F.lit("day_bucket").alias("dimension"),
                "n_probes", "files_touched")
    )
    return (
        tx.unionByName(ty)
        .select(
            "layout",
            "dimension",
            "n_probes",
            "files_touched",
            F.expr("1000 * files_touched div n_probes")
            .cast("bigint")
            .alias("avg_files_per_probe_milli"),
        )
        .orderBy("layout", "dimension")
    )


def _hilbert_audit_oracle() -> str:
    from mpi_word_count_spark.operators.layout import (
        hilbert_steps_sql,
        morton_key_sql,
    )

    return f"""
    WITH base AS (
        SELECT event_id, ts,
               CAST(user_id % 256 AS BIGINT) AS xb,
               CAST(dayofyear(ts) % 256 AS BIGINT) AS yb
        FROM events
    ),
    hp0 AS (SELECT DISTINCT xb, yb FROM base),
    {hilbert_steps_sql(8)},
    keyed AS (
        SELECT b.event_id, b.ts, b.xb, b.yb,
               {morton_key_sql("b.xb", "b.yb")} AS zkey,
               k.hkey
        FROM base b JOIN hkeys k ON b.xb = k.xb AND b.yb = k.yb
    ),
    filed AS (
        SELECT 'hilbert' AS layout, xb, yb,
               ntile({_ZAUDIT_FILES}) OVER (ORDER BY hkey, event_id) AS f
        FROM keyed
        UNION ALL
        SELECT 'zorder', xb, yb,
               ntile({_ZAUDIT_FILES}) OVER (ORDER BY zkey, event_id) AS f
        FROM keyed
        UNION ALL
        SELECT 'linear_ts', xb, yb,
               ntile({_ZAUDIT_FILES}) OVER (ORDER BY ts, event_id) AS f
        FROM keyed
    ),
    stats AS (
        SELECT layout, f,
               min(xb) AS lo_x, max(xb) AS hi_x,
               min(yb) AS lo_y, max(yb) AS hi_y
        FROM filed GROUP BY 1, 2
    ),
    px AS (SELECT DISTINCT xb AS probe FROM base),
    py AS (SELECT DISTINCT yb AS probe FROM base),
    t AS (
        SELECT s.layout, 'user_bucket' AS dimension,
               CAST(count(DISTINCT p.probe) AS BIGINT) AS n_probes,
               CAST(count(*) AS BIGINT) AS files_touched
        FROM px p JOIN stats s ON p.probe BETWEEN s.lo_x AND s.hi_x
        GROUP BY 1
        UNION ALL
        SELECT s.layout, 'day_bucket',
               CAST(count(DISTINCT p.probe) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM py p JOIN stats s ON p.probe BETWEEN s.lo_y AND s.hi_y
        GROUP BY 1
    )
    SELECT layout, dimension, n_probes, files_touched,
           CAST(1000 * files_touched // n_probes AS BIGINT)
               AS avg_files_per_probe_milli
    FROM t ORDER BY layout, dimension
    """


@register("hilbert_skipping_audit", oracle=_hilbert_audit_oracle())
def q_hilbert_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zorder_skipping_audit extended with a HILBERT layout — the
    space-filling curve without Morton's quadrant jumps (every Hilbert
    step is unit distance, so file extents are tighter boxes). The
    curve index is computed once per DISTINCT (x, y) cell — the
    bounded 2^16 domain, not the event table — via a vectorized
    pandas_udf running the classic xy2d bit loop (numpy-at-Arrow-batch
    speed; a single nested SQL expression would grow exponentially
    with bit depth, see hilbert_steps_sql), then broadcast-joined back
    to events; bit-for-bit parity of all three implementations
    (python loop / SQL step chain / kernel) is locked on the full grid
    in tests/test_analytics_ops.py."""
    from mpi_word_count_spark.operators.layout import morton_key_sql

    base = table(spark, "events", sf_dir).select(
        "event_id",
        "ts",
        F.expr("CAST(user_id % 256 AS BIGINT)").alias("xb"),
        F.expr("CAST(dayofyear(ts) % 256 AS BIGINT)").alias("yb"),
    )
    from pyspark.sql.functions import pandas_udf

    def _hkey(xs, ys):  # two pd.Series -> pd.Series (Arrow batch)
        from mpi_word_count_spark.operators.layout import hilbert_xy2d

        return xs.combine(ys, lambda a, b: hilbert_xy2d(int(a), int(b)))

    hkey = pandas_udf(_hkey, "long")
    pairs = (
        base.select("xb", "yb")
        .distinct()
        .select("xb", "yb", hkey(F.col("xb"), F.col("yb")).alias("hkey"))
    )
    keyed = base.join(F.broadcast(pairs), ["xb", "yb"]).withColumn(
        "zkey", F.expr(morton_key_sql("xb", "yb"))
    )
    n_row = keyed.agg(F.count(F.lit(1)).alias("_n"))
    layouts = [
        ("hilbert", F.expr("hkey DIV 64"), [F.asc("hkey"), F.asc("event_id")]),
        ("zorder", F.expr("zkey DIV 64"), [F.asc("zkey"), F.asc("event_id")]),
        (
            "linear_ts",
            F.date_trunc("day", F.col("ts")),
            [F.asc("ts"), F.asc("event_id")],
        ),
    ]
    filed = None
    for name, bucket, order in layouts:
        part = _ntile_files(keyed, n_row, name, bucket, order)
        filed = part if filed is None else filed.unionByName(part)
    stats = filed.groupBy("layout", "f").agg(
        F.min("xb").alias("lo_x"),
        F.max("xb").alias("hi_x"),
        F.min("yb").alias("lo_y"),
        F.max("yb").alias("hi_y"),
    )
    px = base.select(F.col("xb").alias("probe")).distinct()
    py = base.select(F.col("yb").alias("probe")).distinct()

    def probe(pdf, lo, hi, dim):
        return (
            pdf.join(
                stats,
                (F.col("probe") >= F.col(lo)) & (F.col("probe") <= F.col(hi)),
            )
            .groupBy("layout")
            .agg(
                F.countDistinct("probe").alias("n_probes"),
                F.count(F.lit(1)).alias("files_touched"),
            )
            .select(
                "layout",
                F.lit(dim).alias("dimension"),
                "n_probes",
                "files_touched",
            )
        )

    t = probe(px, "lo_x", "hi_x", "user_bucket").unionByName(
        probe(py, "lo_y", "hi_y", "day_bucket")
    )
    return t.select(
        "layout",
        "dimension",
        "n_probes",
        "files_touched",
        F.expr("1000 * files_touched div n_probes")
        .cast("bigint")
        .alias("avg_files_per_probe_milli"),
    ).orderBy("layout", "dimension")


# fixed two-sided alpha=0.05, power=0.80 normal quantiles — constants,
# never computed (no erf/probit in either engine's deterministic core)
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621
_MDE_REL_MILLI = 10  # detect a 1% relative lift


def _power_oracle() -> str:
    from mpi_word_count_spark.functions.parity import sql_portable_round

    pr = sql_portable_round
    var = "(sumsq - sum_v * sum_v / n) / (n - 1)"
    mean = "(sum_v / n)"
    # mean * 0.01 as ONE literal, matching the Spark side's
    # F.lit(_MDE_REL_MILLI / 1000.0) exactly: (mean * 10) / 1000.0
    # can differ from mean * 0.01 by 1 ulp, and the result feeds
    # ceil() — a cliff that could flip required_n_per_arm cross-engine
    delta = f"({mean} * {_MDE_REL_MILLI / 1000.0!r})"
    req = (
        f"ceil(2.0 * {(_Z_ALPHA + _Z_BETA) ** 2!r} * ({var})"
        f" / ({delta} * {delta}))"
    )
    return f"""
    WITH s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               sum(value) AS sum_v, sum(value * value) AS sumsq
        FROM events GROUP BY 1
    )
    SELECT event_type, n AS n_events,
           {pr(mean, 4)} AS mean_value,
           {pr(f"sqrt({var})", 4)} AS stddev_value,
           CAST({req} AS BIGINT) AS required_n_per_arm,
           n >= 2 * {req} AS powered_today
    FROM s ORDER BY event_type
    """


@register("ab_power_analysis", oracle=_power_oracle())
def q_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sample-size planning: per metric stratum, the
    events-per-arm needed to detect a 1% relative lift at alpha=0.05 /
    80% power — n = 2(z_a+z_b)^2 sigma^2 / delta^2 with the normal
    quantiles as FIXED constants (never computed: no probit in the
    deterministic core of either engine), sigma^2 from the exact
    integer-free co-moment identity, and a powered_today flag saying
    whether current volume already suffices. The planning complement
    of ab_test_readout: run the readout only where this says the
    answer can exist. One aggregate scan; |strata| output rows."""
    from mpi_word_count_spark.functions.parity import portable_round

    e = table(spark, "events", sf_dir)
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_v"),
        F.sum(F.col("value") * F.col("value")).alias("sumsq"),
    )
    n = F.col("n").cast("double")
    var = (F.col("sumsq") - F.col("sum_v") * F.col("sum_v") / n) / (
        n - F.lit(1.0)
    )
    mean = F.col("sum_v") / n
    delta = mean * F.lit(_MDE_REL_MILLI / 1000.0)
    req = F.ceil(
        F.lit(2.0 * (_Z_ALPHA + _Z_BETA) ** 2) * var / (delta * delta)
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        portable_round(mean, 4).alias("mean_value"),
        portable_round(F.sqrt(var), 4).alias("stddev_value"),
        req.cast("bigint").alias("required_n_per_arm"),
        (F.col("n") >= F.lit(2) * req).alias("powered_today"),
    ).orderBy("event_type")
