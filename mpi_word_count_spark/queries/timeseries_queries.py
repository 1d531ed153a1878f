"""Time-series diagnostics over the events stream: the sample
autocorrelation function of the hourly arrival series and the
first-order Markov transition matrix of per-user event sequences.

Both complete the forecasting family around `events_holt_trend`
(stats_queries.py): Holt is the state recurrence, the ACF is the
classical model-identification diagnostic that says whether such a
recurrence is warranted (Box & Jenkins ch. 2), and the transition
matrix is the discrete-state analogue used for session modeling.

Exactness device (registry.py discipline): the ACF is computed
entirely in integer arithmetic.  With n hours, S = Σx, Q = Σx² and
per-lag sums P_k = Σ x_t·x_{t-k}, A_k = Σ_{t>k} x_t, B_k = Σ_{t>k}
x_{t-k}, the mean-centered numerator and denominator scale by n² to

    num_k = n²·P_k − n·S·(A_k + B_k) + (n−k)·S²
    den   = n²·Q − n·S²

— exact BIGINTs on both engines (summation order cannot matter), with
one float division at presentation.  The transition matrix emits
exact counts and integer milli-probabilities (1000·c div row_total).

Scale shape: the ONLY corpus-sized stage in either query is one
partial-aggregated groupBy (hour histogram / per-user lag window).
The hour spine is bounded by the time span — model-sized at any data
scale — so every join after the histogram is a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.parity import (
    portable_round,
    sql_portable_round,
)
from mpi_word_count_spark.registry import register
from mpi_word_count_spark.tables import table

ACF_MAX_LAG = 6

# shared dense hourly series: the hour histogram is the ONE
# corpus-sized stage of every query below; the spine (time-span
# bounded, model-sized at any corpus scale) densifies absent hours to
# zero so lag/cumulative arithmetic runs over physical time
_SERIES_CTE = """hist AS (
        SELECT CAST(floor(epoch(date_trunc('hour', ts)) / 3600)
                    AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hist),
    spine AS (
        -- scalar-list generate_series (the table-function form cannot
        -- take subquery parameters in DuckDB)
        SELECT unnest(generate_series(h0, h1)) AS h FROM bounds
    ),
    x AS (
        SELECT s.h, CAST(coalesce(hist.c, 0) AS BIGINT) AS x
        FROM spine s LEFT JOIN hist ON hist.h = s.h
    )"""


def _hour_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SERIES_CTE: the dense hourly count series
    (h, x). Consumers reference it repeatedly, but it is not held: its
    one corpus-sized stage, the hour histogram's shuffle, is reused
    across those references by AQE (ReusedExchange), and a hold only
    adds jobs (2–5 per query at sf0.01)."""
    ev = table(spark, "events", sf_dir)
    hist = ev.groupBy(
        F.floor(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
        )
        .cast("long")
        .alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    bounds = hist.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    return spine.join(F.broadcast(hist), "h", "left").select(
        "h", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("x")
    )


# ---------------------------------------------------------------------------
# events_autocorrelation
# ---------------------------------------------------------------------------

_ACF_ORACLE = f"""
    WITH {_SERIES_CTE},
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS q
        FROM x
    ),
    lagsums AS (
        SELECT l.lag,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(a.x * b.x) AS BIGINT) AS p,
               CAST(sum(a.x) AS BIGINT) AS sa,
               CAST(sum(b.x) AS BIGINT) AS sb
        FROM generate_series(1, {ACF_MAX_LAG}) l(lag)
        JOIN x a ON TRUE
        JOIN x b ON b.h = a.h - l.lag
        GROUP BY 1
    )
    SELECT CAST(l.lag AS BIGINT) AS lag,
           l.n_terms,
           CAST(g.n * g.n * l.p - g.n * g.s * (l.sa + l.sb)
                + (g.n - l.lag) * g.s * g.s AS BIGINT) AS acf_num,
           CAST(g.n * g.n * g.q - g.n * g.s * g.s AS BIGINT) AS acf_den,
           {sql_portable_round(
               'CAST(g.n * g.n * l.p - g.n * g.s * (l.sa + l.sb)'
               ' + (g.n - l.lag) * g.s * g.s AS DOUBLE)'
               ' / CAST(g.n * g.n * g.q - g.n * g.s * g.s AS DOUBLE)',
               6)} AS acf
    FROM lagsums l, g
    ORDER BY lag
"""


@register("events_autocorrelation", oracle=_ACF_ORACLE)
def q_events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample ACF of the hourly event-arrival series at lags 1..6 over
    the DENSE hour spine (absent hours count 0 — the spine is what
    makes the lag alignment physical time, not row adjacency).

    Plan: one partial-aggregated groupBy(hour) is the only stage that
    sees the corpus; the spine (time-span-bounded, model-sized at any
    scale) is built from the 1-row bounds and every subsequent join —
    spine×hist, lags×series, series×shifted-series — is a broadcast.
    All sums are exact BIGINTs (module docstring identity); the single
    float division happens on the 6 result rows."""
    x = _hour_series(spark, sf_dir)
    g = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = x.select(F.col("h").alias("ah"), F.col("x").alias("ax"))
    b = x.select(F.col("h").alias("bh"), F.col("x").alias("bx"))
    lagsums = (
        lags.crossJoin(F.broadcast(a))
        .join(
            F.broadcast(b),
            F.col("bh") == F.col("ah") - F.col("lag"),
        )
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(F.col("ax") * F.col("bx")).cast("long").alias("p"),
            F.sum("ax").cast("long").alias("sa"),
            F.sum("bx").cast("long").alias("sb"),
        )
    )
    j = lagsums.crossJoin(F.broadcast(g))
    num = (
        F.col("n") * F.col("n") * F.col("p")
        - F.col("n") * F.col("s") * (F.col("sa") + F.col("sb"))
        + (F.col("n") - F.col("lag")) * F.col("s") * F.col("s")
    )
    den = (
        F.col("n") * F.col("n") * F.col("q")
        - F.col("n") * F.col("s") * F.col("s")
    )
    return (
        j.select(
            F.col("lag").cast("long").alias("lag"),
            "n_terms",
            num.cast("long").alias("acf_num"),
            den.cast("long").alias("acf_den"),
            portable_round(
                num.cast("double") / den.cast("double"), 6
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# event_transition_matrix
# ---------------------------------------------------------------------------

_TRANSITION_ORACLE = """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n_trans
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS row_total
        FROM trans GROUP BY 1
    )
    SELECT t.prev_type, t.next_type, t.n_trans,
           o.row_total,
           CAST((1000 * t.n_trans) // o.row_total AS BIGINT) AS p_milli
    FROM trans t JOIN tot o ON o.prev_type = t.prev_type
    ORDER BY t.prev_type, t.next_type
"""


@register("event_transition_matrix", oracle=_TRANSITION_ORACLE)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event-type
    sequences: P(next | prev) in exact integer milli-units, with the
    underlying exact counts.  The session-modeling primitive behind
    next-action prediction and funnel-anomaly scoring.

    Plan: ONE per-user lag window (partitioned by user_id — the
    partition key scales with the corpus, no global window) feeding a
    partially-aggregated (prev, next) count; the transition matrix
    itself is |types|² — model-sized — so the row-total join is a
    broadcast.  Sequence order is (ts, event_id): the event_id
    tiebreak makes same-timestamp ordering deterministic on both
    engines."""
    ev = table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    )
    tot = trans.groupBy("prev_type").agg(
        F.sum("n_trans").cast("long").alias("row_total")
    )
    return (
        trans.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n_trans",
            "row_total",
            F.expr("CAST((1000 * n_trans) DIV row_total AS BIGINT)").alias(
                "p_milli"
            ),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# cohort_retention
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS w
        FROM events
    ),
    f AS (SELECT user_id, min(w) AS w0 FROM uw GROUP BY 1),
    act AS (
        SELECT f.w0, CAST((uw.w - f.w0) // 7 AS BIGINT) AS week_offset,
               uw.user_id
        FROM uw JOIN f USING (user_id)
    ),
    csize AS (
        SELECT w0, CAST(count(*) AS BIGINT) AS cohort_size
        FROM f GROUP BY 1
    )
    SELECT strftime(a.w0, '%Y-%m-%d') AS cohort_week, a.week_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           s.cohort_size,
           CAST((1000 * count(*)) // s.cohort_size AS BIGINT)
               AS retention_milli
    FROM act a JOIN csize s ON s.w0 = a.w0
    GROUP BY 1, 2, s.cohort_size
    ORDER BY 1, 2
"""


@register("cohort_retention", oracle=_RETENTION_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by first-active
    week (ISO weeks, Monday start on both engines), retention at each
    week offset in exact integer milli-units — the third classic in
    this module's temporal-analytics family (ACF = continuous
    diagnostic, transition matrix = discrete-state, cohorts =
    longitudinal).

    Plan: the corpus reduces immediately to DISTINCT (user, week) —
    one shuffle; first-week and activity then co-partition on
    user_id (one more shuffle, no re-exchange for the join); the
    matrix is (weeks × offsets) — model-sized — so the cohort-size
    join is a broadcast."""
    ev = table(spark, "events", sf_dir)
    uw = ev.select(
        "user_id",
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("w"),
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("w").alias("w0"))
    act = uw.join(first, "user_id").select(
        "w0",
        F.expr("CAST(datediff(w, w0) DIV 7 AS BIGINT)").alias("week_offset"),
    )
    ret = act.groupBy("w0", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    csize = first.groupBy("w0").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    return (
        ret.join(F.broadcast(csize), "w0")
        .select(
            # presented as a STRING: DuckDB's pandas bridge widens
            # DATE to datetime64, which would type-mismatch the hash
            F.date_format("w0", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.expr(
                "CAST((1000 * n_active) DIV cohort_size AS BIGINT)"
            ).alias("retention_milli"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# events_cusum_changepoint
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = f"""
    WITH {_SERIES_CTE},
    cum AS (
        SELECT h, x,
               CAST(sum(x) OVER (ORDER BY h) AS BIGINT) AS st,
               CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS ct
        FROM x
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sn
        FROM x
    ),
    scored AS (
        SELECT c.h, c.st, c.ct, t.n, t.sn,
               abs(t.n * c.st - c.ct * t.sn) AS d_num
        FROM cum c, tot t
        WHERE c.ct < t.n
    ),
    best AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                ORDER BY d_num DESC, h ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT h AS split_hour, n, d_num,
           CAST((1000 * st) // ct AS BIGINT) AS mean_pre_milli,
           CAST((1000 * (sn - st)) // (n - ct) AS BIGINT)
               AS mean_post_milli
    FROM best
"""


@register("events_cusum_changepoint", oracle=_CUSUM_ORACLE)
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-most-one-changepoint CUSUM scan of the hourly arrival
    series: the split hour maximizing |n·S_t − c_t·S_n| — the exact
    integer form of the classical max-CUSUM statistic (Page 1954;
    same cross-multiplication device as value_ks_test, which is its
    two-SAMPLE sibling — this is the two-REGIME-in-time form) — with
    the exact milli-mean of each regime.

    Plan: the series helper's one corpus shuffle, then a cumulative
    window over the time-bounded spine (allowlisted bounded-domain
    window, 2-col input) and a 1-row argmax via TakeOrdered."""
    x = _hour_series(spark, sf_dir)
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    cum = x.select(
        "h",
        F.sum("x").over(w).cast("long").alias("st"),
        F.row_number().over(Window.orderBy("h")).cast("long").alias("ct"),
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sn"),
    )
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("ct") < F.col("n"))
        .select(
            "h",
            "st",
            "ct",
            "n",
            "sn",
            F.abs(
                F.col("n") * F.col("st") - F.col("ct") * F.col("sn")
            ).alias("d_num"),
        )
    )
    best = scored.orderBy(F.desc("d_num"), F.asc("h")).limit(1)
    return best.select(
        F.col("h").alias("split_hour"),
        "n",
        "d_num",
        F.expr("CAST((1000 * st) DIV ct AS BIGINT)").alias("mean_pre_milli"),
        F.expr(
            "CAST((1000 * (sn - st)) DIV (n - ct) AS BIGINT)"
        ).alias("mean_post_milli"),
    )


# ---------------------------------------------------------------------------
# theil_sen_trend
# ---------------------------------------------------------------------------

_THEILSEN_ORACLE = f"""
    WITH {_SERIES_CTE},
    slopes AS (
        SELECT CAST((1000 * (b.x - a.x)) // (b.h - a.h) AS BIGINT)
                   AS slope_milli,
               CAST(count(*) AS BIGINT) AS c
        FROM x a JOIN x b ON b.h > a.h
        GROUP BY 1
    ),
    m AS (
        SELECT CAST(sum(c) AS BIGINT) AS n_pairs,
               CAST((sum(c) + 1) // 2 AS BIGINT) AS k1,
               CAST((sum(c) + 2) // 2 AS BIGINT) AS k2
        FROM slopes
    ),
    cums AS (
        SELECT slope_milli, c,
               sum(c) OVER (ORDER BY slope_milli) AS cu
        FROM slopes
    ),
    med AS (
        SELECT CAST(min(CASE WHEN cu >= m.k1 THEN slope_milli END)
                    + min(CASE WHEN cu >= m.k2 THEN slope_milli END)
                    AS BIGINT) AS med2
        FROM cums, m
    )
    SELECT m.n_pairs,
           CAST(med.med2 AS DOUBLE) / 2.0 AS slope_milli_per_hour
    FROM m, med
"""


@register("theil_sen_trend", oracle=_THEILSEN_ORACLE)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the hourly arrival series: the
    median over ALL pairwise slopes (Theil 1950; Sen 1968 — 29.3%
    breakdown point vs 0% for OLS). Each slope is an exact integer
    milli-unit (1000·Δx div Δh — `div`/`//` both truncate toward
    zero, verified); the median comes from the same doubled-median
    histogram order-statistic device as brand_price_mad_outliers, so
    the result is exact to the half-milli.

    Plan: the T-hour series is time-span-bounded, so the O(T²) pair
    enumeration is a broadcast nested-loop of a MODEL-SIZED relation
    with itself — bounded at any corpus scale (T grows with the time
    span, not the row count); the slope histogram window is
    slope-domain-bounded (allowlisted)."""
    x = _hour_series(spark, sf_dir)
    a = x.select(F.col("h").alias("ha"), F.col("x").alias("xa"))
    b = x.select(F.col("h").alias("hb"), F.col("x").alias("xb"))
    slopes = (
        a.join(F.broadcast(b), F.col("hb") > F.col("ha"))
        .groupBy(
            F.expr(
                "CAST((1000 * (xb - xa)) DIV (hb - ha) AS BIGINT)"
            ).alias("slope_milli")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    m = slopes.agg(
        F.sum("c").cast("long").alias("n_pairs"),
        F.expr("CAST((sum(c) + 1) DIV 2 AS BIGINT)").alias("k1"),
        F.expr("CAST((sum(c) + 2) DIV 2 AS BIGINT)").alias("k2"),
    )
    w = Window.orderBy("slope_milli").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cums = slopes.select(
        "slope_milli", "c", F.sum("c").over(w).alias("cu")
    )
    med = (
        cums.crossJoin(F.broadcast(m))
        .agg(
            (
                F.min(
                    F.when(F.col("cu") >= F.col("k1"), F.col("slope_milli"))
                )
                + F.min(
                    F.when(F.col("cu") >= F.col("k2"), F.col("slope_milli"))
                )
            )
            .cast("long")
            .alias("med2")
        )
    )
    return med.crossJoin(F.broadcast(m)).select(
        "n_pairs",
        (F.col("med2").cast("double") / 2.0).alias("slope_milli_per_hour"),
    )


# ---------------------------------------------------------------------------
# mann_kendall_trend
# ---------------------------------------------------------------------------

_MK_ORACLE = f"""
    WITH {_SERIES_CTE},
    pairs AS (
        SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM x a JOIN x b ON b.h > a.h
    ),
    n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM x),
    ties AS (
        SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                    AS BIGINT) AS tie18
        FROM (SELECT CAST(count(*) AS BIGINT) AS t
              FROM x xx GROUP BY xx.x)
        WHERE t > 1
    )
    SELECT n_tot.n, p.n_pairs, p.s_stat,
           CAST(n_tot.n * (n_tot.n - 1) * (2 * n_tot.n + 5) - ties.tie18
                AS BIGINT) AS var18,
           {sql_portable_round(
               'CASE WHEN p.s_stat > 0 THEN (CAST(p.s_stat AS DOUBLE) - 1.0)'
               ' / sqrt(CAST(n_tot.n * (n_tot.n - 1) * (2 * n_tot.n + 5)'
               '  - ties.tie18 AS DOUBLE) / 18.0)'
               ' WHEN p.s_stat < 0 THEN (CAST(p.s_stat AS DOUBLE) + 1.0)'
               ' / sqrt(CAST(n_tot.n * (n_tot.n - 1) * (2 * n_tot.n + 5)'
               '  - ties.tie18 AS DOUBLE) / 18.0)'
               ' ELSE 0.0 END', 6)} AS z_stat
    FROM pairs p, n_tot, ties
"""


@register("mann_kendall_trend", oracle=_MK_ORACLE)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on the hourly arrival series: the
    nonparametric significance companion to theil_sen_trend (same
    pair enumeration; Mann 1945, Kendall 1975). S = Σ sign(x_j −
    x_i), the tie-corrected variance rides as the exact integer
    18·Var = n(n−1)(2n+5) − Σ t(t−1)(2t+5), and the only floats are
    the continuity-corrected z normalization (sqrt is IEEE-exact on
    an exact-integer input, the ks_stat argument).

    Plan: the series helper's one corpus shuffle; the O(T²) pair
    fold is the Theil–Sen broadcast nested-loop over the
    time-span-bounded series; ties come from one model-sized
    group-by over the series values."""
    x = _hour_series(spark, sf_dir)
    a = x.select(F.col("h").alias("ha"), F.col("x").alias("xa"))
    b = x.select(F.col("h").alias("hb"), F.col("x").alias("xb"))
    pairs = a.join(F.broadcast(b), F.col("hb") > F.col("ha")).agg(
        F.sum(
            F.when(F.col("xb") > F.col("xa"), 1)
            .when(F.col("xb") < F.col("xa"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    n_tot = x.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        x.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie18")
        )
    )
    j = pairs.crossJoin(F.broadcast(n_tot)).crossJoin(F.broadcast(ties))
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie18")
    ).cast("long")
    sd = F.sqrt(var18.cast("double") / 18.0)
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat").cast("double") - 1.0) / sd,
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat").cast("double") + 1.0) / sd,
        )
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "n",
        "n_pairs",
        "s_stat",
        var18.alias("var18"),
        portable_round(z, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# hourly_seasonality_strength
# ---------------------------------------------------------------------------

# One-way ANOVA of the hourly series grouped by HOUR-OF-DAY: eta² =
# SSB/SST is the classical seasonality-strength score and F =
# (SSB/(k−1)) / (SSW/(n−k)) its significance. All sufficient
# statistics (per-group n_g, S_g, Q_g) are exact integers; the SS
# identities SST = Q − S²/n and SSB = Σ S_g²/n_g − S²/n run as
# TEXTUALLY IDENTICAL double formulas on both engines (the
# price_ols_model device).
_SEASONALITY_FINAL = f"""
    SELECT CAST(n AS BIGINT) AS n_hours,
           CAST(k AS BIGINT) AS n_groups,
           {sql_portable_round('(ssbq - s * s / n) / (q - s * s / n)', 6)}
               AS eta_squared,
           {sql_portable_round(
               '((ssbq - s * s / n) / (k - 1.0))'
               ' / ((q - ssbq) / (n - k))', 6)} AS f_stat
"""
_SEASONALITY_FINAL_EXPRS = _SEASONALITY_FINAL.strip()[len("SELECT ") :]

_SEASONALITY_ORACLE = f"""
    WITH {_SERIES_CTE},
    grp AS (
        SELECT h % 24 AS hod,
               CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(x) AS BIGINT) AS sg,
               CAST(sum(x * x) AS BIGINT) AS qg
        FROM x GROUP BY 1
    ),
    sums AS (
        SELECT CAST(sum(ng) AS DOUBLE) AS n,
               CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(sg) AS DOUBLE) AS s,
               CAST(sum(qg) AS DOUBLE) AS q,
               sum(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                   / CAST(ng AS DOUBLE)) AS ssbq
        FROM grp
    )
    {_SEASONALITY_FINAL}
    FROM sums
"""


@register("hourly_seasonality_strength", oracle=_SEASONALITY_ORACLE)
def q_hourly_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hour-of-day seasonality strength of the arrival series:
    one-way ANOVA eta² and F over the 24 hour-of-day groups (module
    note above) — the diagnostic that says whether a seasonal term
    belongs in the events_holt_trend model at all.

    Exactness caveat recorded: `ssbq` sums 24 double terms
    S_g²/n_g in group order — both engines aggregate the SAME 24-row
    table but summation order is engine-internal; the 24-term sum is
    orders of magnitude inside the 1e-6 rounding so the residual
    risk class is the accepted per-term one. Plan: the series
    helper's corpus shuffle, then a 24-row group-by and a 1-row
    closed form."""
    x = _hour_series(spark, sf_dir)
    grp = x.groupBy((F.col("h") % 24).alias("hod")).agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("x").cast("long").alias("sg"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("qg"),
    )
    sums = grp.agg(
        F.sum("ng").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("sg").cast("double").alias("s"),
        F.sum("qg").cast("double").alias("q"),
        F.sum(
            F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
        ).alias("ssbq"),
    )
    from mpi_word_count_spark.queries.stats_queries import _split_select

    return sums.selectExpr(*_split_select(_SEASONALITY_FINAL_EXPRS)).select(
        "n_hours",
        "n_groups",
        F.col("eta_squared").cast("double").alias("eta_squared"),
        F.col("f_stat").cast("double").alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# runs_test (Wald–Wolfowitz) on the hourly series
# ---------------------------------------------------------------------------

_RUNS_Z = (
    # degenerate guard: one-sided series (n1 or n2 = 0) has zero
    # variance — define z = 0 rather than divide by zero (ANSI error
    # on Spark, Inf/NaN in DuckDB)
    "(CASE WHEN n1 = 0 OR n2 = 0 THEN 0.0 ELSE "
    "(CAST(runs AS DOUBLE)"
    " - (2.0 * n1 * n2 / (n1 + n2) + 1.0))"
    " / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
    " / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))"
    " END)"
)

_RUNS_ORACLE = f"""
    WITH {_SERIES_CTE},
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST((count(*) + 1) // 2 AS BIGINT) AS k1,
               CAST((count(*) + 2) // 2 AS BIGINT) AS k2
        FROM x
    ),
    vhist AS (
        SELECT xx.x AS v, CAST(count(*) AS BIGINT) AS c
        FROM x xx GROUP BY 1
    ),
    vcum AS (
        SELECT v, c, sum(c) OVER (ORDER BY v) AS cu FROM vhist
    ),
    med AS (
        SELECT CAST(min(CASE WHEN cu >= m.k1 THEN v END)
                    + min(CASE WHEN cu >= m.k2 THEN v END)
                    AS BIGINT) AS med2
        FROM vcum, m
    ),
    signs AS (
        SELECT xx.h,
               CASE WHEN 2 * xx.x > med.med2 THEN 1 ELSE -1 END AS s
        FROM x xx, med
        WHERE 2 * xx.x <> med.med2
    ),
    seq AS (
        SELECT s, lag(s) OVER (ORDER BY h) AS prev_s FROM signs
    ),
    agg AS (
        SELECT CAST(count(CASE WHEN s = 1 THEN 1 END) AS BIGINT) AS n1,
               CAST(count(CASE WHEN s = -1 THEN 1 END) AS BIGINT) AS n2,
               CAST(1 + count(CASE WHEN prev_s IS NOT NULL
                                    AND s <> prev_s THEN 1 END)
                    AS BIGINT) AS runs
        FROM seq
    )
    SELECT n1, n2, runs,
           {sql_portable_round(_RUNS_Z, 6)} AS z_stat
    FROM agg
"""


@register("runs_test", oracle=_RUNS_ORACLE)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of the hourly arrival
    series around its median (Wald & Wolfowitz 1940): n1/n2 counts
    above/below (median-equal hours excluded, the standard
    convention; the median itself is exact via the doubled-median
    device), the run count from one lag over the time-bounded spine
    (allowlisted), and the normal z with the identical formula text
    on both engines — completing the nonparametric battery next to
    mann_kendall_trend (monotonic trend) and events_cusum_changepoint
    (single regime break): runs detects ANY serial dependence.

    Plan: the series helper's one corpus shuffle; everything after is
    model-sized."""
    x = _hour_series(spark, sf_dir)
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST((count(*) + 1) DIV 2 AS BIGINT)").alias("k1"),
        F.expr("CAST((count(*) + 2) DIV 2 AS BIGINT)").alias("k2"),
    )
    vhist = x.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    vcum = vhist.select("v", "c", F.sum("c").over(wv).alias("cu"))
    med = (
        vcum.crossJoin(F.broadcast(m))
        .agg(
            (
                F.min(F.when(F.col("cu") >= F.col("k1"), F.col("v")))
                + F.min(F.when(F.col("cu") >= F.col("k2"), F.col("v")))
            )
            .cast("long")
            .alias("med2")
        )
    )
    signs = (
        x.crossJoin(F.broadcast(med))
        .filter(F.lit(2) * F.col("x") != F.col("med2"))
        .select(
            "h",
            F.when(F.lit(2) * F.col("x") > F.col("med2"), 1)
            .otherwise(-1)
            .alias("s"),
        )
    )
    seq = signs.select(
        "s", F.lag("s").over(Window.orderBy("h")).alias("prev_s")
    )
    agg = seq.agg(
        F.count(F.when(F.col("s") == 1, 1)).cast("long").alias("n1"),
        F.count(F.when(F.col("s") == -1, 1)).cast("long").alias("n2"),
        (
            F.lit(1)
            + F.count(
                F.when(
                    F.col("prev_s").isNotNull()
                    & (F.col("s") != F.col("prev_s")),
                    1,
                )
            )
        )
        .cast("long")
        .alias("runs"),
    )
    return agg.select(
        "n1",
        "n2",
        "runs",
        portable_round(F.expr(_RUNS_Z), 6).alias("z_stat"),
    )
