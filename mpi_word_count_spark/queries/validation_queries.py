"""Data-quality validation and first/last-by-order aggregation
queries: the publish-gate report a production ingest pipeline runs
(operators/validation.py), and the OHLC-style min_by/max_by rollup
over the event stream. Full DuckDB oracles for both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.operators.validation import (
    Rule,
    check_reference,
    check_rules,
    check_unique,
    quality_report,
)
from mpi_word_count_spark.registry import register
from mpi_word_count_spark.tables import table


def _dq_oracle() -> str:
    # CASTs: DuckDB sum(int) is HUGEINT (float64 through pandas);
    # Spark's sums/counts are BIGINT throughout.
    return """
    SELECT rule, violations, checked FROM (
        SELECT 'lineitem_qty_range' AS rule,
               CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                             OR l_quantity > 50 THEN 1 ELSE 0 END)
                    AS BIGINT) AS violations,
               count(*) AS checked
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_price_positive',
               CAST(sum(CASE WHEN l_extendedprice IS NULL
                             OR l_extendedprice <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT),
               count(*)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_shipdate_nonnull',
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               count(*)
        FROM lineitem
        UNION ALL
        SELECT 'orders_status_domain',
               CAST(sum(CASE WHEN o_orderstatus IS NULL
                             OR o_orderstatus NOT IN ('O', 'F', 'P')
                             THEN 1 ELSE 0 END) AS BIGINT),
               count(*)
        FROM orders
        UNION ALL
        SELECT 'orders_totalprice_positive',
               CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                             THEN 1 ELSE 0 END) AS BIGINT),
               count(*)
        FROM orders
        UNION ALL
        SELECT 'orders_custkey_nonnull',
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               count(*)
        FROM orders
        UNION ALL
        SELECT 'events_value_nonneg',
               CAST(sum(CASE WHEN value IS NULL OR value < 0
                             THEN 1 ELSE 0 END) AS BIGINT),
               count(*)
        FROM events
        UNION ALL
        SELECT 'events_type_nonnull',
               CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               count(*)
        FROM events
        UNION ALL
        SELECT 'lineitem_pk_unique',
               count(*) - count(DISTINCT (l_orderkey, l_linenumber)),
               count(*)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_orderkey_exists',
               (SELECT count(*) FROM lineitem
                WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
               count(*)
        FROM lineitem
    ) ORDER BY rule
    """


@register("data_quality_report", oracle=_dq_oracle())
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The publish gate: null / range / domain expectations compile to
    ONE conditional-aggregate scan per table (never a job per rule),
    plus a count-distinct uniqueness pass and one left-anti referential
    join. The fixture's duplicate (l_orderkey, l_linenumber) pairs make
    the pk_unique row genuinely non-zero."""
    li = table(spark, "lineitem", sf_dir)
    orders = table(spark, "orders", sf_dir)
    events = table(spark, "events", sf_dir)
    li_rules = check_rules(
        li,
        [
            Rule(
                "lineitem_qty_range",
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50),
            ),
            Rule(
                "lineitem_price_positive",
                F.col("l_extendedprice").isNull()
                | (F.col("l_extendedprice") <= 0),
            ),
            Rule("lineitem_shipdate_nonnull", F.col("l_shipdate").isNull()),
        ],
    )
    o_rules = check_rules(
        orders,
        [
            Rule(
                "orders_status_domain",
                F.col("o_orderstatus").isNull()
                | ~F.col("o_orderstatus").isin("O", "F", "P"),
            ),
            Rule(
                "orders_totalprice_positive",
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0),
            ),
            Rule("orders_custkey_nonnull", F.col("o_custkey").isNull()),
        ],
    )
    e_rules = check_rules(
        events,
        [
            Rule(
                "events_value_nonneg",
                F.col("value").isNull() | (F.col("value") < 0),
            ),
            Rule("events_type_nonnull", F.col("event_type").isNull()),
        ],
    )
    uniq = check_unique(
        li, "lineitem_pk_unique", ["l_orderkey", "l_linenumber"]
    )
    ref = check_reference(
        li, orders, "lineitem_orderkey_exists", "l_orderkey", "o_orderkey"
    )
    return quality_report([li_rules, o_rules, e_rules, uniq, ref])


def _order_key(ts_col: str = "ts", id_col: str = "event_id") -> F.Column:
    """Total-order key for first/last-by aggregation: zero-padded
    (unix_micros, id) string — min_by/max_by take ONE key column and
    neither engine orders struct keys, so the compound order encodes
    as a fixed-width sortable string (identical in DuckDB via
    epoch_us)."""
    return F.concat(
        F.lpad(F.unix_micros(F.col(ts_col)).cast("string"), 20, "0"),
        F.lit(":"),
        F.lpad(F.col(id_col).cast("string"), 20, "0"),
    )


_SQL_ORDER_KEY = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || ':' || "
    "lpad(CAST(event_id AS VARCHAR), 20, '0')"
)


@register(
    "events_ohlc_hourly",
    oracle=f"""
    SELECT event_type, date_trunc('hour', ts) AS hour,
           arg_min(value, {_SQL_ORDER_KEY}) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, {_SQL_ORDER_KEY}) AS close,
           count(*) AS n
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def q_events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling of the event stream: first/last/extreme value
    per (event_type, hour) via min_by/max_by over a deterministic
    (ts, event_id) total order — one partial-aggregated scan, values
    emitted bit-exact (picked, not computed). The time-series
    resample every monitoring pipeline runs."""
    events = table(spark, "events", sf_dir)
    key = _order_key()
    return events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


# --- one-pass table profiler (ANALYZE-style column statistics) ------
# (column, kind) — kind picks the cross-engine min/max stringification:
# int -> plain cast, dec -> DECIMAL(18,2) (both engines pad to scale),
# ts -> yyyy-MM-dd HH:mm:ss, str -> identity.
_PROFILE_SPEC = [
    ("l_orderkey", "int"),
    ("l_linenumber", "int"),
    ("l_quantity", "dec"),
    ("l_returnflag", "str"),
    ("l_shipdate", "ts"),
]

_SQL_FMT = {
    "int": "CAST({v} AS VARCHAR)",
    "dec": "CAST(CAST({v} AS DECIMAL(18,2)) AS VARCHAR)",
    "str": "{v}",
    "ts": "strftime({v}, '%Y-%m-%d %H:%M:%S')",
}


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_SPEC:
        mn = _SQL_FMT[kind].format(v=f"min({col})")
        mx = _SQL_FMT[kind].format(v=f"max({col})")
        parts.append(f"""
        SELECT '{col}' AS column_name,
               count(*) AS n_rows,
               CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
               {mn} AS min_val,
               {mx} AS max_val
        FROM lineitem""")
    return " UNION ALL ".join(parts)


def _spark_fmt(kind: str, c: F.Column) -> F.Column:
    if kind == "int":
        return c.cast("string")
    if kind == "dec":
        return c.cast("decimal(18,2)").cast("string")
    if kind == "ts":
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    return c


@register("table_profile", oracle=_profile_oracle())
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column profile of lineitem in ONE scan:
    row count, null count, exact distinct count, min/max — the
    catalog-statistics pass every warehouse runs before planning, and
    the first report any data engineer pulls on a new table.

    Plan shape: all metrics fold into a single global aggregation;
    the multi-column exact count-distincts plan through Spark's
    Expand (one pass over the data, expand factor = #distinct aggs —
    the documented trade for EXACT ndv; swap in approx_count_distinct
    to drop Expand at 100 TB, as approx_distinct_words demonstrates).
    The wide single-row result pivots to long format driver-side via
    stack() — no second scan, no joins."""
    li = table(spark, "lineitem", sf_dir)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, kind in _PROFILE_SPEC:
        c = F.col(col)
        aggs += [
            F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("bigint").alias(f"{col}__nulls"),
            F.countDistinct(c).alias(f"{col}__dist"),
            _spark_fmt(kind, F.min(c)).alias(f"{col}__min"),
            _spark_fmt(kind, F.max(c)).alias(f"{col}__max"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', {col}__nulls, {col}__dist, {col}__min, {col}__max"
        for col, _ in _PROFILE_SPEC
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_SPEC)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_val, max_val)",
        "n_rows",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


@register(
    "events_value_outliers",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    med AS (
        SELECT event_type, value AS med, n
        FROM ranked WHERE rn = (n + 1) // 2
    ),
    devs AS (
        SELECT r.event_type, r.value, abs(r.value - m.med) AS dev, m.med, m.n
        FROM ranked r JOIN med m ON m.event_type = r.event_type
    ),
    dev_ranked AS (
        SELECT event_type, dev, med, n,
               row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn
        FROM devs
    ),
    mad AS (
        SELECT event_type, dev AS mad, med, n
        FROM dev_ranked WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(m.n AS BIGINT) AS n_events,
           round(m.med, 4) AS median_value,
           round(m.mad, 4) AS mad,
           CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
    FROM devs d JOIN mad m ON m.event_type = d.event_type
    GROUP BY 1, 2, 3, 4
    """,
)
def q_events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median + MAD (median
    absolute deviation) with DISCRETE order statistics — the median
    is the ⌈n/2⌉-th smallest actual value selected by row_number,
    never an interpolated percentile, so med, MAD, and every
    dev > 3·MAD branch decision are bit-exact across engines (an
    interpolated median differs in final-ulp arithmetic between
    engines and can flip threshold comparisons). n_outliers is an
    integer column, so the value hash verifies each branch.

    Shape: two window passes partitioned by event_type (values, then
    deviations) + one rollup — all shuffles on the low-cardinality
    type key; at scale the same pattern runs per (type, day) to keep
    partitions bounded."""
    from pyspark.sql import Window

    from mpi_word_count_spark.operators import materialize

    ev = table(spark, "events", sf_dir).select("event_type", "value")
    w = Window.partitionBy("event_type")
    ranked = materialize(ev.select(
        "event_type",
        "value",
        F.row_number().over(w.orderBy("value")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    ))
    med = ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("value").alias("med"), "n"
    )
    devs = materialize(ranked.join(F.broadcast(med.drop("n")), "event_type").select(
        "event_type",
        "value",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
        "med",
    ))
    dev_ranked = devs.select(
        "event_type",
        "dev",
        "med",
        F.row_number().over(w.orderBy("dev")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mad = dev_ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("dev").alias("mad"), "n"
    )
    return (
        devs.join(F.broadcast(mad), "event_type")
        .groupBy(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.round("med", 4).alias("median_value"),
            F.round("mad", 4).alias("mad"),
        )
        .agg(
            F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers")
        )
    )


@register(
    "events_cusum_drift",
    oracle="""
    WITH hc AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, c AS k FROM (
            SELECT event_type, c,
                   row_number() OVER (PARTITION BY event_type ORDER BY c, h)
                       AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM hc) t
        WHERE rn = (n + 1) // 2
    ),
    pref AS (
        SELECT hc.event_type, hc.h, m.k,
               sum(hc.c - m.k) OVER (PARTITION BY hc.event_type
                                     ORDER BY hc.h) AS p
        FROM hc JOIN med m ON m.event_type = hc.event_type
    ),
    cus AS (
        SELECT event_type, h, k,
               p - least(0, min(p) OVER (PARTITION BY event_type
                                         ORDER BY h)) AS s
        FROM pref
    )
    SELECT event_type,
           CAST(max(k) AS BIGINT) AS k_median_hourly,
           CAST(max(s) AS BIGINT) AS max_cusum,
           CAST(sum(CASE WHEN s > 3 * k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_drift_hours,
           strftime(min(CASE WHEN s > 3 * k THEN h END),
                    '%Y-%m-%d %H:%M:%S') AS first_drift_hour
    FROM cus GROUP BY 1
    """,
)
def q_events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over hourly event volumes — the
    change-point monitor behind data-freshness and traffic-shift
    alerts. The textbook recursion S_t = max(0, S_{t-1} + (x_t - k))
    is rewritten with the prefix-minimum identity

        S_t = P_t - min(0, min_{j<=t} P_j),  P = running sum of (x - k)

    (the 0 is the virtual empty-prefix minimum; without it the
    statistic under-reports whenever the series starts above k)

    so the whole statistic is two window functions over the hourly
    series — no recursion, no UDF, and (k being the DISCRETE median
    hourly count) every quantity is exact int64. Drift = hours where
    S exceeds 3·k; the report emits per-type drift counts and the
    first breach hour."""
    from pyspark.sql import Window

    from mpi_word_count_spark.operators import materialize

    ev = table(spark, "events", sf_dir)
    hc = materialize(
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    wt = Window.partitionBy("event_type")
    ranked = hc.select(
        "event_type",
        "c",
        F.row_number().over(wt.orderBy("c", "h")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("c").alias("k")
    )
    wo = wt.orderBy("h")
    pref = hc.join(F.broadcast(med), "event_type").select(
        "event_type",
        "h",
        "k",
        F.sum(F.col("c") - F.col("k")).over(wo).alias("p"),
    )
    cus = pref.select(
        "event_type",
        "h",
        "k",
        (F.col("p") - F.least(F.lit(0), F.min("p").over(wo))).alias("s"),
    )
    drift = F.col("s") > 3 * F.col("k")
    return cus.groupBy("event_type").agg(
        F.max("k").cast("bigint").alias("k_median_hourly"),
        F.max("s").cast("bigint").alias("max_cusum"),
        F.sum(F.when(drift, 1).otherwise(0)).cast("bigint").alias("n_drift_hours"),
        F.date_format(
            F.min(F.when(drift, F.col("h"))), "yyyy-MM-dd HH:mm:ss"
        ).alias("first_drift_hour"),
    )


_EWMA_LAGS = 16  # binary-weight window: 2^-1 .. 2^-16 of prior hours


def _ewma_oracle() -> str:
    num = " + ".join(
        f"coalesce(lag(n, {k}) OVER w, 0) * {1 << (_EWMA_LAGS - k)}"
        for k in range(1, _EWMA_LAGS + 1)
    )
    den = (1 << _EWMA_LAGS) - 1
    return f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    sm AS (
        SELECT event_type, h, n,
               CAST((1000 * ({num})) // {den} AS BIGINT) AS ewma_milli,
               row_number() OVER w AS rn
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h)
    )
    SELECT event_type,
           strftime(h, '%Y-%m-%d %H:00:00') AS hour,
           CAST(n AS BIGINT) AS n_events,
           ewma_milli,
           (rn > {_EWMA_LAGS} AND 1000 * n > 2 * ewma_milli) AS spike
    FROM sm
    ORDER BY event_type, hour
    """


@register("events_ewma_hourly", oracle=_ewma_oracle())
def q_events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted hourly volume monitor — the smoothing
    complement of events_cusum_drift (CUSUM finds sustained level
    shifts; EWMA + a 2x threshold finds short bursts against the
    smoothed baseline). The smoothing is the α=1/2 EWMA truncated at
    16 lags and computed in EXACT integer arithmetic: binary weights
    2^(16-k) over the prior 16 hourly counts, one integer division by
    2^16-1 at the end — no float pow(), no per-step rounding
    recursion, identical on every engine (the same
    make-the-recurrence-exact move as integer PageRank and the
    prefix-min CUSUM). Missing history counts as zero, and the spike
    flag only arms after a full 16-hour warmup, so cold-start rows
    can never page anyone.

    Scale shape: one pushed-projection scan into a partial-aggregated
    (type, hour) count — the only corpus-sized work — then ONE window
    pass over the bucket table (hours x types, dashboard-sized at any
    event volume) evaluating all 16 lags in a single frame."""
    from pyspark.sql import Window

    e = table(spark, "events", sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("h")
    num = None
    for k in range(1, _EWMA_LAGS + 1):
        term = F.coalesce(F.lag("n", k).over(w), F.lit(0)).cast("bigint") * F.lit(
            1 << (_EWMA_LAGS - k)
        )
        num = term if num is None else num + term
    den = (1 << _EWMA_LAGS) - 1
    # integer `div`, never float `/` + cast: a float quotient landing
    # an ulp above an integer would truncate differently than the
    # oracle's exact integer floor division
    sm = (
        hourly.withColumn("num_i", num)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("ewma_milli", F.expr(f"(1000 * num_i) div {den}"))
    )
    return sm.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour"),
        F.col("n").cast("bigint").alias("n_events"),
        "ewma_milli",
        (
            (F.col("rn") > _EWMA_LAGS)
            & (F.lit(1000) * F.col("n") > F.lit(2) * F.col("ewma_milli"))
        ).alias("spike"),
    ).orderBy("event_type", "hour")


# --- Benford first-digit forensics -------------------------------------------

# log10(1 + 1/d) quantized at 1e-12, shared verbatim by both engines
# (no log evaluated at query time)
_BENFORD_P = (
    "0.301029995664", "0.176091259056", "0.124938736608",
    "0.096910013008", "0.079181246048", "0.066946789631",
    "0.057991946978", "0.051152522447", "0.045757490561",
)

_BENFORD_P_CASE = "CASE digit " + " ".join(
    f"WHEN {d + 1} THEN {p}" for d, p in enumerate(_BENFORD_P)
) + " END"

# shared final metric text over columns (digit, n_obs, total)
_BENFORD_FINAL = f"""
    SELECT digit,
           CAST(n_obs AS BIGINT) AS n_obs,
           {{pr}}
           AS p_obs,
           CAST({_BENFORD_P_CASE} AS DOUBLE) AS p_benford,
           {{chi}}
           AS chi2_term
"""


def _benford_final() -> str:
    from mpi_word_count_spark.functions.parity import sql_portable_round

    return _BENFORD_FINAL.format(
        pr=sql_portable_round(
            "CAST(n_obs AS DOUBLE) / CAST(total AS DOUBLE)", 6
        ),
        chi=sql_portable_round(
            f"(CAST(n_obs AS DOUBLE) - CAST(total AS DOUBLE)"
            f" * ({_BENFORD_P_CASE}))"
            f" * (CAST(n_obs AS DOUBLE) - CAST(total AS DOUBLE)"
            f" * ({_BENFORD_P_CASE}))"
            f" / (CAST(total AS DOUBLE) * ({_BENFORD_P_CASE}))",
            6,
        ),
    )


_BENFORD_ORACLE = f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders
    ),
    counted AS (
        SELECT digit, count(*) AS n_obs FROM digits GROUP BY 1
    ),
    tot AS (SELECT sum(n_obs) AS total FROM counted)
    {_benford_final()}
    FROM counted, tot
"""


@register("benford_price_audit", oracle=_BENFORD_ORACLE)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit forensics (Benford's law): the leading
    digit of every order total against the log10(1+1/d) expectation,
    with each digit's chi-square contribution — the standard fraud /
    synthetic-data / unit-mixup screen a data platform runs on any
    monetary column before publishing it. Expected proportions are
    1e-12-quantized shared literals, so no logarithm is evaluated at
    query time and the only floats are three divisions on exact
    integer counts.

    (On TPC-H's uniformly-generated prices the audit correctly FAILS
    Benford — large chi2 — which is the point: synthetic data screams
    synthetic. The test pins a geometric series that passes.)

    Scale shape: one partial-aggregated 9-group count shuffle; the
    metric arithmetic runs on the 9-row aggregate against a broadcast
    1-row total."""
    from mpi_word_count_spark.functions.parity import portable_round  # noqa: F401
    from mpi_word_count_spark.queries.stats_queries import _split_select

    o = table(spark, "orders", sf_dir)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counted = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = counted.agg(F.sum("n_obs").alias("total"))
    joined = counted.crossJoin(F.broadcast(tot))
    final = _benford_final().strip()
    if not final.startswith("SELECT "):  # pragma: no cover
        raise RuntimeError("benford final must start with SELECT")
    out = joined.selectExpr(*_split_select(final[len("SELECT ") :]))
    return out.select(
        "digit",
        "n_obs",
        *[
            F.col(c).cast("double").alias(c)
            for c in ("p_obs", "p_benford", "chi2_term")
        ],
    )
