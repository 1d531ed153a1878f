"""Distributed-statistics queries: the Poisson bootstrap (the
cluster-scale resampling scheme) and closed-form OLS regression on
exact integer sufficient statistics.

Both are "ML on sufficient statistics" shapes: the corpus-sized work
is ONE partial-aggregated pass; everything model-sized happens in
closed form on the aggregate. That is the only resampling/regression
design that survives 100 TB — a classical bootstrap (sample n rows
WITH replacement, B times) needs global coordination per replica,
while the Poisson approximation draws each row's replica multiplicity
independently (Poisson(1) ≈ Binomial(n, 1/n)), which is embarrassingly
parallel and is the standard large-scale formulation (Chamandy et al.
2012, "Estimating Uncertainty for Massive Data Streams").

Determinism device: replica multiplicities come from the md5-uniform
(`sample_hash_u`, one draw per (row, replica)) cut against HARDCODED
Poisson(1) CDF literals — the identical decimal literals appear in
both engines' expressions, so the resample is bit-reproducible.
Regression exactness comes from integer milli/centi-unit surrogates:
every sufficient statistic is an exact integer sum (DECIMAL(38,0) on
Spark, HUGEINT in DuckDB — no float summation-order drift), and the
final Cramer solve runs the TEXTUALLY IDENTICAL double formula on
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import sql_hash32
from mpi_word_count_spark.functions.parity import (
    portable_round,
    sql_portable_round,
)
from mpi_word_count_spark.registry import register
from mpi_word_count_spark.tables import table

# ---------------------------------------------------------------------------
# Poisson bootstrap
# ---------------------------------------------------------------------------

BOOTSTRAP_B = 32

# Poisson(1) CDF, P(X <= k) for k = 0..5; multiplicity capped at 6
# (P(X > 6) ≈ 8.3e-5). The literals are the mechanism spec: both
# engines compare the SAME md5-uniform against the SAME constants.
_POISSON_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
)


def _poisson_weight_sql(u_expr: str) -> str:
    branches = " ".join(
        f"WHEN {u_expr} < {p} THEN {k}" for k, p in enumerate(_POISSON_CDF)
    )
    return f"(CASE {branches} ELSE 6 END)"


_BOOT_ORACLE = f"""
    WITH reps AS (
        SELECT b.b AS b,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               (({sql_hash32(
                   "CAST(o_orderkey AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)",
                   "boot")} + 0.5) / 4294967296.0) AS u
        FROM orders, (SELECT unnest(range(0, {BOOTSTRAP_B})) AS b) b
    )
    SELECT b,
           CAST(sum(w) AS BIGINT) AS n_eff,
           {sql_portable_round(
               '(CAST(sum(w * cents) AS DOUBLE)'
               ' / CAST(sum(w) AS DOUBLE)) / 100.0', 4)} AS boot_mean
    FROM (SELECT b, cents, {_poisson_weight_sql('u')} AS w FROM reps)
    GROUP BY b
"""


@register("poisson_bootstrap_ci", oracle=_BOOT_ORACLE)
def q_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap distribution of the mean order price: B=32
    resamples where each order's multiplicity in replica b is an
    independent Poisson(1) draw from the md5-uniform seeded by
    (orderkey, b). The output table IS the bootstrap distribution —
    its spread is the standard error, its quantiles the CI; emitting
    the replicas (not just a CI pair) is what production monitoring
    wants anyway (the replicas merge across days, CIs don't).

    Scale shape: explode ×B map-side, then ONE groupBy(b) whose
    partial aggregation reduces every task's contribution to B rows
    before the exchange — total shuffle traffic is B × #tasks tiny
    rows regardless of corpus size, the textbook distributed
    bootstrap. Prices ride as exact integer cents (floor(x·100+0.5)),
    so replica sums are order-independent and the only float ops are
    the final two divisions, textually identical on both engines."""
    from mpi_word_count_spark.operators import widen
    from mpi_word_count_spark.operators.curation import sample_hash_u
    from mpi_word_count_spark.functions.parity import portable_round

    # the 2.7 MB orders scan is ONE task at sf0.1, which would serialize
    # the x32 replica explode and its 4.8M md5 draws onto one core;
    # widen() restores cluster width (no-op at scale — real scans have
    # thousands of splits). Shuffled bytes: 16 B/order, BEFORE the x32
    # explode multiplies rows, so the exchange stays corpus-sized/32.
    o = widen(table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice"))
    rep = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderkey"),
        F.explode(F.sequence(F.lit(0), F.lit(BOOTSTRAP_B - 1))).alias("b"),
    )
    u = sample_hash_u(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(":"),
            F.col("b").cast("string"),
        ),
        "boot",
    )
    w = F.expr(_poisson_weight_sql("u"))
    weighted = rep.withColumn("u", u).withColumn("w", w)
    return weighted.groupBy("b").agg(
        F.sum("w").cast("bigint").alias("n_eff"),
        portable_round(
            (
                F.sum(F.col("w") * F.col("cents")).cast("double")
                / F.sum("w").cast("double")
            )
            / 100.0,
            4,
        ).alias("boot_mean"),
    )


# ---------------------------------------------------------------------------
# Closed-form OLS on exact integer sufficient statistics
# ---------------------------------------------------------------------------

# Shared formula text (selectExpr on Spark, SELECT in DuckDB): the
# Cramer solve of the 3x3 normal equations for
#   price_dollars ~ 1 + quantity + discount_pp
# over sufficient-statistic columns n, sq, sd, sqq, sqd, sdd and the
# cent-unit response sums syc, sqyc, sdyc, syyc (all exact integers
# cast to DOUBLE). Unit conversion (cents -> dollars) happens on the
# aggregate, inside the shared text.
_OLS_VARS = """
        n AS nn, sq, sd, sqq, sqd, sdd,
        syc / 100.0 AS sy, sqyc / 100.0 AS sqy, sdyc / 100.0 AS sdy,
        syyc / 10000.0 AS syy
"""

_OLS_DET = "(nn*(sqq*sdd - sqd*sqd) - sq*(sq*sdd - sqd*sd) + sd*(sq*sqd - sqq*sd))"
_OLS_DET0 = "(sy*(sqq*sdd - sqd*sqd) - sq*(sqy*sdd - sqd*sdy) + sd*(sqy*sqd - sqq*sdy))"
_OLS_DET1 = "(nn*(sqy*sdd - sqd*sdy) - sy*(sq*sdd - sqd*sd) + sd*(sq*sdy - sqy*sd))"
_OLS_DET2 = "(nn*(sqq*sdy - sqy*sqd) - sq*(sq*sdy - sqy*sd) + sy*(sq*sqd - sqq*sd))"

_OLS_FINAL = f"""
    SELECT CAST(nn AS BIGINT) AS n_rows,
           {sql_portable_round(f'{_OLS_DET0} / {_OLS_DET}', 6)} AS beta_intercept,
           {sql_portable_round(f'{_OLS_DET1} / {_OLS_DET}', 6)} AS beta_qty,
           {sql_portable_round(f'{_OLS_DET2} / {_OLS_DET}', 6)} AS beta_disc_pp,
           {sql_portable_round(
               f'1.0 - (syy - (({_OLS_DET0} / {_OLS_DET}) * sy'
               f' + ({_OLS_DET1} / {_OLS_DET}) * sqy'
               f' + ({_OLS_DET2} / {_OLS_DET}) * sdy))'
               ' / (syy - (sy * sy) / nn)', 6)} AS r_squared
"""

_OLS_ORACLE = f"""
    WITH raw AS (
        SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc
        FROM lineitem
    ),
    sums AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE) AS sq,
               CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) AS sd,
               CAST(sum(CAST(q * q AS HUGEINT)) AS DOUBLE) AS sqq,
               CAST(sum(CAST(q * d AS HUGEINT)) AS DOUBLE) AS sqd,
               CAST(sum(CAST(d * d AS HUGEINT)) AS DOUBLE) AS sdd,
               CAST(sum(CAST(yc AS HUGEINT)) AS DOUBLE) AS syc,
               CAST(sum(CAST(q * yc AS HUGEINT)) AS DOUBLE) AS sqyc,
               CAST(sum(CAST(d * yc AS HUGEINT)) AS DOUBLE) AS sdyc,
               CAST(sum(CAST(yc AS HUGEINT) * CAST(yc AS HUGEINT)) AS DOUBLE)
                   AS syyc
        FROM raw
    ),
    vars AS (SELECT {_OLS_VARS} FROM sums)
    {_OLS_FINAL}
    FROM vars
"""


@register("price_ols_model", oracle=_OLS_ORACLE)
def q_price_ols_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression in ONE aggregation pass: fit
    extendedprice (dollars) ~ intercept + quantity + discount
    (percentage points) by accumulating the 3x3 normal-equation
    sufficient statistics and solving in closed form (Cramer), plus
    R². This is how regression actually runs on cluster-scale data —
    the sums are map-side partial aggregates, the solve is O(1) on
    the 10-number aggregate; no gradient iterations, no data movement
    beyond one count-style shuffle.

    Exactness: regressors/response ride as exact integers (quantity,
    discount in pp, price in cents), summed in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) so no summation-order drift exists; the Cramer
    solve then runs the same double formula text on both engines."""
    li = table(spark, "lineitem", sf_dir)
    q = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint")
    d = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint")
    yc = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    raw = li.select(q.alias("q"), d.alias("d"), yc.alias("yc"))

    def s(expr) -> F.Column:
        return F.sum(expr.cast("decimal(38,0)")).cast("double")

    sums = raw.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        s(F.col("q")).alias("sq"),
        s(F.col("d")).alias("sd"),
        s(F.col("q") * F.col("q")).alias("sqq"),
        s(F.col("q") * F.col("d")).alias("sqd"),
        s(F.col("d") * F.col("d")).alias("sdd"),
        s(F.col("yc")).alias("syc"),
        s(F.col("q") * F.col("yc")).alias("sqyc"),
        s(F.col("d") * F.col("yc")).alias("sdyc"),
        F.sum(
            F.col("yc").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("syyc"),
    )
    vars_df = sums.selectExpr(*_split_select(_OLS_VARS))
    out = vars_df.selectExpr(*_split_select(_OLS_FINAL_EXPRS))
    # Spark parses the 1000000.0 round-scale literal as DECIMAL, so the
    # rounded columns come out DECIMAL(…); present them as DOUBLE like
    # the oracle (exact: the decimal is floor_result/10^6, whose
    # nearest-double equals the oracle's double division).
    return out.select(
        "n_rows",
        *[
            F.col(c).cast("double").alias(c)
            for c in ("beta_intercept", "beta_qty", "beta_disc_pp", "r_squared")
        ],
    )


def _split_select(block: str) -> list[str]:
    """Split a shared `a AS x, b AS y` text block into selectExpr
    items (top-level commas only — the formulas contain no commas
    outside function calls, and portable-round emits none)."""
    items: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in block:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        items.append(tail)
    return items


# the SELECT-list of _OLS_FINAL without the leading keyword, so the
# identical formula text feeds Spark's selectExpr
_OLS_FINAL_EXPRS = _OLS_FINAL.strip()
if not _OLS_FINAL_EXPRS.startswith("SELECT "):  # pragma: no cover
    raise RuntimeError("_OLS_FINAL must start with SELECT")
_OLS_FINAL_EXPRS = _OLS_FINAL_EXPRS[len("SELECT ") :]


# ---------------------------------------------------------------------------
# Holt linear-trend exponential smoothing
# ---------------------------------------------------------------------------

# binary-rational smoothing constants: every recurrence step is a sum
# of exact IEEE products, so the sequential fold is bit-reproducible
# across engines (no rounding needed until presentation)
HOLT_ALPHA = 0.25
HOLT_BETA = 0.125

_HOLT_ORACLE = f"""
    WITH RECURSIVE hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1000.0 AS y
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT event_type, y,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY h) AS INT) AS t
        FROM hourly
    ),
    nper AS (SELECT event_type, max(t) AS n_hours FROM series GROUP BY 1),
    holt AS (
        SELECT event_type, t, y AS l, CAST(0.0 AS DOUBLE) AS b
        FROM series WHERE t = 1
        UNION ALL
        SELECT s.event_type, s.t,
               {HOLT_ALPHA} * s.y + {1 - HOLT_ALPHA} * (h.l + h.b),
               {HOLT_BETA} * (({HOLT_ALPHA} * s.y
                               + {1 - HOLT_ALPHA} * (h.l + h.b)) - h.l)
                   + {1 - HOLT_BETA} * h.b
        FROM holt h
        JOIN series s ON s.event_type = h.event_type AND s.t = h.t + 1
    )
    SELECT h.event_type,
           CAST(n.n_hours AS BIGINT) AS n_hours,
           {sql_portable_round('h.l', 4)} AS level,
           {sql_portable_round('h.b', 4)} AS trend,
           {sql_portable_round('h.l + h.b', 4)} AS forecast_next
    FROM holt h JOIN nper n
      ON n.event_type = h.event_type AND h.t = n.n_hours
"""


@register("events_holt_trend", oracle=_HOLT_ORACLE)
def q_events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) of the
    hourly revenue series per event type, returning the final state
    and the one-step forecast — the classic streaming-forecast
    recurrence (Holt 1957; Hyndman & Athanasopoulos ch. 8) that
    events_ewma_hourly's single-parameter smoother cannot express.
    Smoothing constants are binary rationals (α=1/4, β=1/8), inputs
    ride as exact integer milli-units, and both engines run the
    TEXTUALLY identical recurrence in the same order, so the fold is
    bit-reproducible; the oracle verifies it with a recursive CTE.

    100 TB shape: the corpus-sized stage is ONE partial-aggregated
    (event_type, hour) shuffle; the sequential fold runs per key over
    the hourly series — calendar-bounded (8,760 points/year), O(1)
    state, inside one Arrow batch per key (applyInPandas). Keys fold
    in parallel; no corpus-sized window, no driver loop."""
    import math

    import pandas as pd

    ev = table(spark, "events", sf_dir)
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("bigint")
            ).alias("milli")
        )
        .select(
            "event_type",
            "h",
            (F.col("milli").cast("double") / 1000.0).alias("y"),
        )
    )

    def r4(x: float) -> float:
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h")
        ys = [float(v) for v in pdf["y"]]
        lev, tr = ys[0], 0.0
        for y in ys[1:]:
            new_l = HOLT_ALPHA * y + (1 - HOLT_ALPHA) * (lev + tr)
            tr = HOLT_BETA * (new_l - lev) + (1 - HOLT_BETA) * tr
            lev = new_l
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [len(ys)],
                "level": [r4(lev)],
                "trend": [r4(tr)],
                "forecast_next": [r4(lev + tr)],
            }
        )

    return hourly.groupBy("event_type").applyInPandas(
        fold,
        schema=(
            "event_type string, n_hours long, level double, "
            "trend double, forecast_next double"
        ),
    )


# ---------------------------------------------------------------------------
# k-fold cross-validated OLS (fold-complement sufficient statistics)
# ---------------------------------------------------------------------------

CV_FOLDS = 5

# Stage texts shared verbatim by selectExpr (Spark) and the oracle
# CTEs (DuckDB). Stage 1 converts per-fold exact integer sums into the
# fold-side doubles (f*) and the TRAIN-side (complement = totals -
# fold) doubles named exactly as the _OLS_DET formulas expect; stage 2
# solves the normal equations per fold; stage 3 scores the held-out
# fold through the quadratic form — SSE from sufficient statistics, no
# residual pass, no float summation-order drift anywhere.
_CV_VARS = """
        fold,
        fn, fsq, fsd, fsqq, fsqd, fsdd,
        fsyc / 100.0 AS fsy, fsqyc / 100.0 AS fsqy, fsdyc / 100.0 AS fsdy,
        fsyyc / 10000.0 AS fsyy,
        tn - fn AS nn, tsq - fsq AS sq, tsd - fsd AS sd,
        tsqq - fsqq AS sqq, tsqd - fsqd AS sqd, tsdd - fsdd AS sdd,
        (tsyc - fsyc) / 100.0 AS sy, (tsqyc - fsqyc) / 100.0 AS sqy,
        (tsdyc - fsdyc) / 100.0 AS sdy
"""

_CV_BETAS = f"""
        fold, fn, fsq, fsd, fsqq, fsqd, fsdd, fsy, fsqy, fsdy, fsyy,
        {_OLS_DET0} / {_OLS_DET} AS b0,
        {_OLS_DET1} / {_OLS_DET} AS b1,
        {_OLS_DET2} / {_OLS_DET} AS b2
"""

_CV_FINAL = f"""
    SELECT fold,
           CAST(fn AS BIGINT) AS n_test,
           {sql_portable_round('b0', 6)} AS beta_intercept,
           {sql_portable_round('b1', 6)} AS beta_qty,
           {sql_portable_round('b2', 6)} AS beta_disc_pp,
           {sql_portable_round(
               'sqrt((fsyy - 2.0 * (b0 * fsy + b1 * fsqy + b2 * fsdy)'
               ' + (b0 * b0 * fn + b1 * b1 * fsqq + b2 * b2 * fsdd'
               ' + 2.0 * b0 * b1 * fsq + 2.0 * b0 * b2 * fsd'
               ' + 2.0 * b1 * b2 * fsqd)) / fn)', 4)} AS rmse_test
"""

_CV_ORACLE = f"""
    WITH raw AS (
        SELECT ({sql_hash32(
            "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)",
            "cv")}) % {CV_FOLDS} AS fold,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc
        FROM lineitem
    ),
    foldsums AS (
        SELECT fold,
               CAST(count(*) AS DOUBLE) AS fn,
               CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE) AS fsq,
               CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) AS fsd,
               CAST(sum(CAST(q * q AS HUGEINT)) AS DOUBLE) AS fsqq,
               CAST(sum(CAST(q * d AS HUGEINT)) AS DOUBLE) AS fsqd,
               CAST(sum(CAST(d * d AS HUGEINT)) AS DOUBLE) AS fsdd,
               CAST(sum(CAST(yc AS HUGEINT)) AS DOUBLE) AS fsyc,
               CAST(sum(CAST(q * yc AS HUGEINT)) AS DOUBLE) AS fsqyc,
               CAST(sum(CAST(d * yc AS HUGEINT)) AS DOUBLE) AS fsdyc,
               CAST(sum(CAST(yc AS HUGEINT) * CAST(yc AS HUGEINT)) AS DOUBLE)
                   AS fsyyc
        FROM raw GROUP BY 1
    ),
    totals AS (
        SELECT sum(fn) AS tn, sum(fsq) AS tsq, sum(fsd) AS tsd,
               sum(fsqq) AS tsqq, sum(fsqd) AS tsqd, sum(fsdd) AS tsdd,
               sum(fsyc) AS tsyc, sum(fsqyc) AS tsqyc, sum(fsdyc) AS tsdyc
        FROM foldsums
    ),
    vars AS (SELECT {_CV_VARS} FROM foldsums, totals),
    betas AS (SELECT {_CV_BETAS} FROM vars)
    {_CV_FINAL}
    FROM betas
"""


@register("price_ols_cv", oracle=_CV_ORACLE)
def q_price_ols_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the price regression WITHOUT
    retraining passes: per-fold exact-integer sufficient statistics
    are aggregated ONCE; each fold's training sums are the totals
    minus its own sums (complement by subtraction — exact, because
    the sums are integers), the normal equations solve per fold in
    closed form, and the held-out RMSE comes from the same fold sums
    through the expanded quadratic form — no residual scan, no second
    pass over the data, no float summation-order drift. This is the
    pattern that makes model selection tractable at 100 TB: k-fold CV
    for the cost of one aggregation shuffle, k × O(1) solves.

    Folds are md5-assigned by line-item key, so the split is
    deterministic and partition-independent on both engines.

    Optimization r10 (guide §2.4/§2.5, OPTIMIZATION_r10.md): (1) the
    5-column projection is widen()ed before the heavy per-row work —
    the 10.8 MB lineitem parquet scans as ONE task, so the md5 fold
    hash and ten decimal partial sums for 600k rows ran on one core
    (no-op at scale, where the scan already has thousands of splits);
    (2) foldsums is materialized: the totals aggregate previously
    re-instantiated the whole corpus scan + aggregation subtree (the
    before-plan shows two identical Scan→HashAggregate chains), so the
    md5-heavy pass executed twice per run."""
    from mpi_word_count_spark.functions.hashing import hash32
    from mpi_word_count_spark.operators import materialize, widen

    li = table(spark, "lineitem", sf_dir)
    fold = (
        hash32(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            ),
            "cv",
        )
        % CV_FOLDS
    )
    q = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint")
    d = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint")
    yc = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    raw = widen(
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_discount",
            "l_extendedprice",
        )
    ).select(fold.alias("fold"), q.alias("q"), d.alias("d"), yc.alias("yc"))

    def s(expr) -> F.Column:
        return F.sum(expr.cast("decimal(38,0)")).cast("double")

    foldsums = materialize(raw.groupBy("fold").agg(
        F.count(F.lit(1)).cast("double").alias("fn"),
        s(F.col("q")).alias("fsq"),
        s(F.col("d")).alias("fsd"),
        s(F.col("q") * F.col("q")).alias("fsqq"),
        s(F.col("q") * F.col("d")).alias("fsqd"),
        s(F.col("d") * F.col("d")).alias("fsdd"),
        s(F.col("yc")).alias("fsyc"),
        s(F.col("q") * F.col("yc")).alias("fsqyc"),
        s(F.col("d") * F.col("yc")).alias("fsdyc"),
        F.sum(
            F.col("yc").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("fsyyc"),
    ))
    totals = foldsums.agg(
        F.sum("fn").alias("tn"),
        F.sum("fsq").alias("tsq"),
        F.sum("fsd").alias("tsd"),
        F.sum("fsqq").alias("tsqq"),
        F.sum("fsqd").alias("tsqd"),
        F.sum("fsdd").alias("tsdd"),
        F.sum("fsyc").alias("tsyc"),
        F.sum("fsqyc").alias("tsqyc"),
        F.sum("fsdyc").alias("tsdyc"),
    )
    joined = foldsums.crossJoin(F.broadcast(totals))
    vars_df = joined.selectExpr(*_split_select(_CV_VARS))
    betas = vars_df.selectExpr(*_split_select(_CV_BETAS))
    final = _CV_FINAL.strip()
    if not final.startswith("SELECT "):  # pragma: no cover
        raise RuntimeError("_CV_FINAL must start with SELECT")
    out = betas.selectExpr(*_split_select(final[len("SELECT ") :]))
    return out.select(
        "fold",
        "n_test",
        *[
            F.col(c).cast("double").alias(c)
            for c in ("beta_intercept", "beta_qty", "beta_disc_pp", "rmse_test")
        ],
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test
# ---------------------------------------------------------------------------

_KS_ORACLE = f"""
    WITH hist AS (
        SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS score,
               CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS c1,
               CAST(count(CASE WHEN event_type <> 'purchase' THEN 1 END)
                    AS BIGINT) AS c2
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT score,
               sum(c1) OVER (ORDER BY score) AS cum1,
               sum(c2) OVER (ORDER BY score) AS cum2
        FROM hist
    ),
    tot AS (
        SELECT max(cum1) AS n1, max(cum2) AS n2 FROM cum
    ),
    diffs AS (
        SELECT score, abs(cum1 * n2 - cum2 * n1) AS dnum, n1, n2
        FROM cum, tot
    ),
    best AS (
        SELECT score, dnum, n1, n2 FROM (
            SELECT *, row_number() OVER (
                ORDER BY dnum DESC, score ASC) AS rn
            FROM diffs
        ) WHERE rn = 1
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           score AS d_at_score,
           {sql_portable_round(
               'CAST(dnum AS DOUBLE)'
               ' / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))', 6)}
               AS ks_d,
           {sql_portable_round(
               '(CAST(dnum AS DOUBLE)'
               ' / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))'
               ' * sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))'
               ' / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))', 6)}
               AS ks_stat
    FROM best
"""


@register("value_ks_test", oracle=_KS_ORACLE)
def q_value_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: does the event-value
    distribution differ between purchase and non-purchase events? The
    supremum CDF gap is found as an EXACT integer maximum —
    |cum1·n2 − cum2·n1| over the milli-quantized score histogram —
    so the argmax location is deterministic (ties break on the lower
    score); the only floats are the final normalizations (sqrt is
    IEEE-exact). ks_stat is the √(n1·n2/(n1+n2))·D statistic whose
    asymptotic null distribution is Kolmogorov's.

    Scale shape: identical to value_auc_audit — one partial-aggregated
    groupBy(score) shuffle, cumulative windows over the score-DOMAIN-
    bounded histogram, a 1-row result."""
    from pyspark.sql import Window

    ev = table(spark, "events", sf_dir)
    hist = ev.groupBy(
        F.floor(F.col("value") * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("score")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("c1"),
        F.count(F.when(F.col("event_type") != "purchase", 1))
        .cast("bigint")
        .alias("c2"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "score",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    tot = cum.agg(F.max("cum1").alias("n1"), F.max("cum2").alias("n2"))
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "score",
        F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")).alias(
            "dnum"
        ),
        "n1",
        "n2",
    )
    best = diffs.orderBy(F.desc("dnum"), F.asc("score")).limit(1)
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    d = F.col("dnum").cast("double") / (n1d * n2d)
    from mpi_word_count_spark.functions.parity import portable_round

    return best.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("score").alias("d_at_score"),
        portable_round(d, 6).alias("ks_d"),
        portable_round(
            d * F.sqrt((n1d * n2d) / (n1d + n2d)), 6
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# robust statistics: median / MAD outliers over the price histogram
# ---------------------------------------------------------------------------

# Exact-integer order statistics: with n values, the interpolated
# median is (v(k1) + v(k2)) / 2 for k1 = (n+1) div 2, k2 = (n+2) div 2
# (1-indexed), so DOUBLED medians are exact BIGINTs. med2 = 2·median
# over cents, dev2 = |2·cents − med2|, mad4 = 2·median(dev2) = 4·MAD,
# and the classical |x − med| > 1.5·MAD outlier cut becomes the pure
# integer comparison 4·dev2 > 3·mad4 — no float enters until the
# presentation division by 2.0/4.0 (both exact in binary).
_MAD_ORACLE = """
    WITH hist AS (
        SELECT p.p_brand AS brand,
               CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    n AS (
        SELECT brand, CAST(sum(c) AS BIGINT) AS n,
               CAST((sum(c) + 1) // 2 AS BIGINT) AS k1,
               CAST((sum(c) + 2) // 2 AS BIGINT) AS k2
        FROM hist GROUP BY 1
    ),
    cum AS (
        SELECT brand, cents, c,
               sum(c) OVER (PARTITION BY brand ORDER BY cents) AS cu
        FROM hist
    ),
    med AS (
        SELECT cum.brand,
               CAST(min(CASE WHEN cu >= n.k1 THEN cents END)
                    + min(CASE WHEN cu >= n.k2 THEN cents END)
                    AS BIGINT) AS med2
        FROM cum JOIN n ON n.brand = cum.brand
        GROUP BY 1
    ),
    dhist AS (
        SELECT h.brand, abs(2 * h.cents - m.med2) AS dev2,
               CAST(sum(h.c) AS BIGINT) AS c
        FROM hist h JOIN med m ON m.brand = h.brand
        GROUP BY 1, 2
    ),
    dcum AS (
        SELECT brand, dev2, c,
               sum(c) OVER (PARTITION BY brand ORDER BY dev2) AS cu
        FROM dhist
    ),
    mad AS (
        SELECT dcum.brand,
               CAST(min(CASE WHEN cu >= n.k1 THEN dev2 END)
                    + min(CASE WHEN cu >= n.k2 THEN dev2 END)
                    AS BIGINT) AS mad4
        FROM dcum JOIN n ON n.brand = dcum.brand
        GROUP BY 1
    ),
    outl AS (
        SELECT d.brand,
               CAST(coalesce(sum(CASE WHEN 4 * d.dev2 > 3 * m.mad4
                                      THEN d.c END), 0) AS BIGINT)
                   AS n_outliers
        FROM dhist d JOIN mad m ON m.brand = d.brand
        GROUP BY 1
    )
    SELECT n.brand, n.n,
           CAST(m.med2 AS DOUBLE) / 2.0 AS median_cents,
           CAST(a.mad4 AS DOUBLE) / 4.0 AS mad_cents,
           o.n_outliers
    FROM n
    JOIN med m ON m.brand = n.brand
    JOIN mad a ON a.brand = n.brand
    JOIN outl o ON o.brand = n.brand
    ORDER BY n.brand
"""


@register("brand_price_mad_outliers", oracle=_MAD_ORACLE)
def q_brand_price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-brand price outlier census: exact interpolated
    median, exact MAD (median absolute deviation — the robust scale
    estimator that, unlike stddev, is not itself dragged by the
    outliers it is hunting; Hampel 1974), and the count of prices
    beyond 1.5·MAD, all in exact integer arithmetic (see _MAD_ORACLE
    note).

    Scale shape: the classical exact-median obstacle (a full sort, or
    Spark's `percentile` buffering every value per group) is avoided
    by the score-histogram device the KS/AUC family uses — ONE
    partial-aggregated groupBy(brand, cents) shuffle bounds all later
    stages by the PRICE DOMAIN, not the row count; both cumulative
    windows are partitioned by brand and run over that bounded
    histogram, and every join after the histogram is model-sized
    (|brands| rows, broadcast).

    Optimization r10 (guide §2.4 — share one exchange across
    operations keyed the same way): the original formulation derived
    the per-brand scalar tables (n/k1/k2, med2, mad4, n_outliers) as
    separate aggregates re-joined by broadcast; Catalyst expanded the
    diamond references textually into 118 Exchanges / 28 broadcast
    joins (runtime-deduplicated by ReuseExchange, but ~10 sequential
    AQE stages deep — 3.6 s at sf0.1). This form attaches every
    per-brand scalar as an UNORDERED WINDOW over the same brand
    partitioning the cumulative windows already need, so after the
    histogram exchange there is exactly ONE brand exchange and zero
    joins: 3 Exchanges total (hist, brand, final orderBy), same
    arithmetic, same results (oracle-verified). An explicit cache of
    the histogram was tried first and REJECTED: it disabled AQE in
    the cached subtree and cost 7.8 s+ (OPTIMIZATION_r10.md)."""
    li = table(spark, "lineitem", sf_dir).select("l_partkey", "l_extendedprice")
    pa = table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    from pyspark.sql import Window

    hist = (
        li.join(pa, li["l_partkey"] == pa["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.expr(
                "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wb = Window.partitionBy("brand")
    w = (
        Window.partitionBy("brand")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # per-brand totals as unordered windows over the SAME brand
    # partitioning the cumulative window establishes — no extra
    # exchange, no broadcast-join diamond
    cum = hist.select(
        "brand",
        "cents",
        "c",
        F.sum("c").over(w).alias("cu"),
        F.sum("c").over(wb).cast("long").alias("n"),
    ).withColumns(
        {
            "k1": F.expr("CAST((n + 1) DIV 2 AS BIGINT)"),
            "k2": F.expr("CAST((n + 2) DIV 2 AS BIGINT)"),
        }
    )
    med = cum.select(
        "brand",
        "cents",
        "c",
        "n",
        "k1",
        "k2",
        (
            F.min(F.when(F.col("cu") >= F.col("k1"), F.col("cents"))).over(wb)
            + F.min(F.when(F.col("cu") >= F.col("k2"), F.col("cents"))).over(
                wb
            )
        )
        .cast("long")
        .alias("med2"),
    )
    # brand partitioning satisfies the (brand, dev2) clustering, so
    # this aggregation needs no exchange either
    dhist = med.groupBy(
        "brand",
        F.abs(F.lit(2) * F.col("cents") - F.col("med2")).alias("dev2"),
    ).agg(
        F.sum("c").cast("long").alias("c"),
        F.max("n").alias("n"),
        F.max("k1").alias("k1"),
        F.max("k2").alias("k2"),
        F.max("med2").alias("med2"),
    )
    dw = (
        Window.partitionBy("brand")
        .orderBy("dev2")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dcum = dhist.select(
        "brand",
        "dev2",
        "c",
        "n",
        "med2",
        "k1",
        "k2",
        F.sum("c").over(dw).alias("cu"),
    )
    mad = dcum.select(
        "brand",
        "dev2",
        "c",
        "n",
        "med2",
        (
            F.min(F.when(F.col("cu") >= F.col("k1"), F.col("dev2"))).over(wb)
            + F.min(F.when(F.col("cu") >= F.col("k2"), F.col("dev2"))).over(
                wb
            )
        )
        .cast("long")
        .alias("mad4"),
    )
    return (
        mad.groupBy("brand")
        .agg(
            F.max("n").alias("n"),
            (F.max("med2").cast("double") / 2.0).alias("median_cents"),
            (F.max("mad4").cast("double") / 4.0).alias("mad_cents"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.lit(4) * F.col("dev2") > F.lit(3) * F.col("mad4"),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select("brand", "n", "median_cents", "mad_cents", "n_outliers")
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# closed-form ALS: per-customer factors against fixed item factors
# ---------------------------------------------------------------------------

# One half-step of Alternating Least Squares (Koren/Bell/Volinsky
# 2009) in its cluster-scale form: item factors FIXED (deterministic
# md5-derived integers in [-4, 4], the demo_weights device), so each
# user's factor vector solves an independent regularized 3x3 normal
# equation whose sufficient statistics are exact integer sums — the
# per-user twin of price_ols_model's global Cramer solve. λ = 1 makes
# A = Σqqᵀ + I positive definite: det > 0 always, no degenerate
# division.
_ALS_DIM = 3
_ALS_LAMBDA = 1

# symmetric A with the ridge term folded in textually
_ALS_E11 = f"(a11 + {_ALS_LAMBDA})"
_ALS_E22 = f"(a22 + {_ALS_LAMBDA})"
_ALS_E33 = f"(a33 + {_ALS_LAMBDA})"
_ALS_DET = (
    f"({_ALS_E11}*({_ALS_E22}*{_ALS_E33} - a23*a23)"
    f" - a12*(a12*{_ALS_E33} - a23*a13)"
    f" + a13*(a12*a23 - {_ALS_E22}*a13))"
)
_ALS_DET1 = (
    f"(b1*({_ALS_E22}*{_ALS_E33} - a23*a23)"
    f" - a12*(b2*{_ALS_E33} - a23*b3)"
    f" + a13*(b2*a23 - {_ALS_E22}*b3))"
)
_ALS_DET2 = (
    f"({_ALS_E11}*(b2*{_ALS_E33} - a23*b3)"
    f" - b1*(a12*{_ALS_E33} - a23*a13)"
    f" + a13*(a12*b3 - b2*a13))"
)
_ALS_DET3 = (
    f"({_ALS_E11}*({_ALS_E22}*b3 - b2*a23)"
    f" - a12*(a12*b3 - b2*a13)"
    f" + b1*(a12*a23 - {_ALS_E22}*a13))"
)

_ALS_FINAL = f"""
    SELECT custkey, n_items,
           {sql_portable_round(f'{_ALS_DET1} / {_ALS_DET}', 6)} AS w1,
           {sql_portable_round(f'{_ALS_DET2} / {_ALS_DET}', 6)} AS w2,
           {sql_portable_round(f'{_ALS_DET3} / {_ALS_DET}', 6)} AS w3
"""
_ALS_FINAL_EXPRS = _ALS_FINAL.strip()[len("SELECT ") :]


_ALS_Q_COLS = " , ".join(
    "(("
    + sql_hash32(f"CAST(s AS VARCHAR) || ':{d}'", "alsq")
    + f" % 9) - 4) AS q{d}"
    for d in (1, 2, 3)
)

_ALS_ORACLE = f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s,
               o.o_orderkey AS ok
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ratings AS (
        SELECT c, s, CAST(count(*) AS BIGINT) AS r
        FROM pairs GROUP BY 1, 2
    ),
    feat AS (
        SELECT c, r, {_ALS_Q_COLS}
        FROM ratings
    ),
    sums AS (
        SELECT c AS custkey,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(q1*q1) AS DOUBLE) AS a11,
               CAST(sum(q1*q2) AS DOUBLE) AS a12,
               CAST(sum(q1*q3) AS DOUBLE) AS a13,
               CAST(sum(q2*q2) AS DOUBLE) AS a22,
               CAST(sum(q2*q3) AS DOUBLE) AS a23,
               CAST(sum(q3*q3) AS DOUBLE) AS a33,
               CAST(sum(r*q1) AS DOUBLE) AS b1,
               CAST(sum(r*q2) AS DOUBLE) AS b2,
               CAST(sum(r*q3) AS DOUBLE) AS b3
        FROM feat GROUP BY 1
    )
    {_ALS_FINAL}
    FROM sums
    ORDER BY custkey
"""


@register("als_customer_factors", oracle=_ALS_ORACLE)
def q_als_customer_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS half-step: per-customer latent factors against FIXED
    md5-derived integer item (supplier) factors, order-count implicit
    ratings, ridge λ=1 — the recommendation-pipeline primitive in its
    only 100 TB-viable form (module note above).

    Plan: ONE corpus shuffle builds (customer, supplier, rating);
    item factors are computed INLINE from the supplier key (no join,
    no factor table to broadcast); the per-customer 3x3 sufficient
    statistics ride a second partial-aggregated shuffle keyed by
    customer, and the Cramer solve is a projection over the
    customer-sized aggregate (the identical formula text runs on both
    engines over exact integer sums, the price_ols_model device)."""
    from mpi_word_count_spark.functions.hashing import hash32

    o = table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_suppkey").alias("s"),
            F.col("o_orderkey").alias("ok"),
        )
        .distinct()
    )
    ratings = pairs.groupBy("c", "s").agg(
        F.count(F.lit(1)).cast("long").alias("r")
    )
    feat = ratings.select(
        "c",
        "r",
        *[
            (
                hash32(
                    F.concat_ws(
                        ":", F.col("s").cast("string"), F.lit(str(d))
                    ),
                    "alsq",
                )
                % 9
                - 4
            ).alias(f"q{d}")
            for d in (1, 2, 3)
        ],
    )
    sums = feat.groupBy(F.col("c").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        *[
            F.sum(F.col(a) * F.col(b)).cast("double").alias(n)
            for a, b, n in (
                ("q1", "q1", "a11"),
                ("q1", "q2", "a12"),
                ("q1", "q3", "a13"),
                ("q2", "q2", "a22"),
                ("q2", "q3", "a23"),
                ("q3", "q3", "a33"),
            )
        ],
        *[
            F.sum(F.col("r") * F.col(q)).cast("double").alias(n)
            for q, n in (("q1", "b1"), ("q2", "b2"), ("q3", "b3"))
        ],
    )
    out = sums.selectExpr(*_split_select(_ALS_FINAL_EXPRS))
    return out.select(
        "custkey",
        "n_items",
        *[F.col(c).cast("double").alias(c) for c in ("w1", "w2", "w3")],
    ).orderBy("custkey")


# ---------------------------------------------------------------------------
# concentration metrics: revenue Gini and supplier HHI
# ---------------------------------------------------------------------------

# Gini from the value histogram, exactly: with per-customer revenue
# r (integer cents) bucketed into counts c_v per distinct value v
# (ascending), the rank-sum Σ i·x_(i) decomposes per bucket as
# v · (cum_prev + 1 + cum) · c_v / 2 — (cum_prev+cum+1)·c_v is always
# even·odd or odd·even times... guarded by scaling by 2 throughout:
#   G = (2·Σ i·x_(i)) / (n·Σx) − (n+1)/n
# is emitted as 2·rank-sum (exact BIGINT), n, and total, with the one
# float division at presentation.
_GINI_ORACLE = f"""
    WITH rev AS (
        SELECT o.o_custkey,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS r
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    ),
    hist AS (
        SELECT r AS v, CAST(count(*) AS BIGINT) AS c
        FROM rev GROUP BY 1
    ),
    cum AS (
        SELECT v, c,
               CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cu
        FROM hist
    ),
    parts AS (
        -- per bucket: Σ over its ranks i of i·v
        --   = v · (cu_prev+1 + cu) · c / 2 ; doubled to stay integral
        SELECT CAST(sum(v * ((cu - c + 1) + cu) * c) AS BIGINT)
                   AS ranksum2,
               CAST(sum(v * c) AS BIGINT) AS total,
               CAST(sum(c) AS BIGINT) AS n
        FROM cum
    )
    SELECT n, total, ranksum2,
           {sql_portable_round(
               'CAST(ranksum2 AS DOUBLE)'
               ' / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))'
               ' - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)', 6)}
               AS gini
    FROM parts
"""


@register("revenue_gini", oracle=_GINI_ORACLE)
def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality /
    concentration audit (a data-curation analogue: the same statistic
    flags source-domination in corpus mixtures). Computed EXACTLY via
    the revenue histogram: the sorted rank-sum Σ i·x_(i) decomposes
    per distinct value into integer bucket terms, so no global sort
    of customers ever happens — one revenue shuffle, one histogram
    shuffle, a cumulative window over the value-domain-bounded
    histogram (allowlisted), one float division on the 1-row result."""
    o = table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice"
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("long")
            .alias("r")
        )
    )
    hist = rev.groupBy(F.col("r").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql import Window

    # bucket-offset cumsum (operators/ranking.py decomposition): the
    # revenue histogram is customer-sized in the worst case (revenues
    # are near-unique), so the cumulative count may NOT ride one
    # unpartitioned window. Coarsen to $100k buckets: the offsets
    # window runs over the bucket table (value-RANGE-bounded), the
    # within-bucket window is partitioned by bucket.
    bucketed = hist.withColumn("_b", F.expr("v div 10000000"))
    w_off = (
        Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("_b")
        .agg(F.sum("c").alias("_n"))
        .select(
            "_b",
            F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    w_in = (
        Window.partitionBy("_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        bucketed.join(F.broadcast(offsets), "_b")
        .select(
            "v",
            "c",
            (F.col("_off") + F.sum("c").over(w_in)).cast("long").alias("cu"),
        )
    )
    parts = cum.agg(
        F.sum(
            F.col("v")
            * ((F.col("cu") - F.col("c") + 1) + F.col("cu"))
            * F.col("c")
        )
        .cast("long")
        .alias("ranksum2"),
        F.sum(F.col("v") * F.col("c")).cast("long").alias("total"),
        F.sum("c").cast("long").alias("n"),
    )
    nd = F.col("n").cast("double")
    return parts.select(
        "n",
        "total",
        "ranksum2",
        portable_round(
            F.col("ranksum2").cast("double")
            / (nd * F.col("total").cast("double"))
            - (nd + F.lit(1.0)) / nd,
            6,
        ).alias("gini"),
    )


_HHI_ORACLE = f"""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS r
        FROM lineitem GROUP BY 1
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(CAST(r AS HUGEINT) * CAST(r AS HUGEINT))
                    AS DOUBLE) AS sum_r2,
               CAST(sum(r) AS DOUBLE) AS total
        FROM rev
    )
    SELECT n_suppliers,
           {sql_portable_round('10000.0 * sum_r2 / (total * total)', 6)}
               AS hhi_points
    FROM agg
"""


@register("supplier_hhi", oracle=_HHI_ORACLE)
def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue concentration
    in classic 0–10,000 points (Σ share² × 10⁴) — Gini's
    market-structure sibling; both are corpus-mixture dominance
    audits. One partial-aggregated shuffle to supplier revenue, one
    1-row reduce; shares square on exact integer cents (DECIMAL /
    HUGEINT) before the single float division."""
    li = table(spark, "lineitem", sf_dir)
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                "bigint"
            )
        )
        .cast("long")
        .alias("r")
    )
    agg = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(F.col("r").cast("decimal(19,0)") * F.col("r").cast("decimal(19,0)"))
        .cast("double")
        .alias("sum_r2"),
        F.sum("r").cast("double").alias("total"),
    )
    return agg.select(
        "n_suppliers",
        portable_round(
            F.lit(10000.0) * F.col("sum_r2") / (F.col("total") * F.col("total")),
            6,
        ).alias("hhi_points"),
    )


# ---------------------------------------------------------------------------
# chi-square independence: event type x hour-of-day
# ---------------------------------------------------------------------------

_CHI2_ORACLE = f"""
    WITH obs AS (
        SELECT event_type,
               CAST(floor(epoch(date_trunc('hour', ts)) / 3600)
                    AS BIGINT) % 24 AS hod,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rowm AS (
        SELECT event_type, CAST(sum(o) AS BIGINT) AS r
        FROM obs GROUP BY 1
    ),
    colm AS (
        SELECT hod, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    cells AS (
        -- dense grid: zero-count cells still carry expected mass
        SELECT rm.event_type, cm.hod, rm.r, cm.c,
               CAST(coalesce(obs.o, 0) AS BIGINT) AS o
        FROM rowm rm
        CROSS JOIN colm cm
        LEFT JOIN obs ON obs.event_type = rm.event_type
                     AND obs.hod = cm.hod
    ),
    agg AS (
        SELECT sum(
                   CAST((t.n * cl.o - cl.r * cl.c) AS DOUBLE)
                   * CAST((t.n * cl.o - cl.r * cl.c) AS DOUBLE)
                   / (CAST(t.n AS DOUBLE) * cl.r * cl.c)
               ) AS chi2_n,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(count(DISTINCT cl.event_type) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT cl.hod) AS BIGINT) AS n_cols,
               CAST(max(t.n) AS BIGINT) AS n
        FROM cells cl, tot t
    )
    SELECT n, n_cells,
           CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
           {sql_portable_round('chi2_n / n', 4)} AS chi2
    FROM agg
"""


@register("event_hour_chi2", oracle=_CHI2_ORACLE)
def q_event_hour_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    hour-of-day — the contingency-table sibling of value_ks_test
    (distributional) and hourly_seasonality_strength (ANOVA). Each
    cell's term is (n·O − R·C)²/(n·R·C) with EXACT integer
    numerators (cross-multiplication, the KS device); zero-count
    cells enter through the dense row×column grid so expected mass
    is never dropped.

    Plan: one partial-aggregated (type, hod) count is the only
    corpus stage; margins and the |types|×24 grid are model-sized
    broadcasts; the 120-term float sum is the accepted per-term
    residual class (module note)."""
    ev = table(spark, "events", sf_dir)
    obs = ev.groupBy(
        "event_type",
        (
            F.floor(
                F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
            ).cast("long")
            % 24
        ).alias("hod"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rowm = obs.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("r")
    )
    colm = obs.groupBy("hod").agg(F.sum("o").cast("long").alias("c"))
    tot = obs.agg(F.sum("o").cast("long").alias("n"))
    cells = (
        rowm.crossJoin(F.broadcast(colm))
        .join(obs, ["event_type", "hod"], "left")
        .select(
            "event_type",
            "hod",
            "r",
            "c",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
    )
    num = (F.col("n") * F.col("o") - F.col("r") * F.col("c")).cast("double")
    agg = (
        cells.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                num * num
                / (
                    F.col("n").cast("double")
                    * F.col("r").cast("double")
                    * F.col("c").cast("double")
                )
            ).alias("chi2_n"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.countDistinct("event_type").cast("long").alias("n_rows"),
            F.countDistinct("hod").cast("long").alias("n_cols"),
            F.max("n").cast("long").alias("n"),
        )
    )
    return agg.select(
        "n",
        "n_cells",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
        .cast("long")
        .alias("dof"),
        portable_round(F.col("chi2_n") / F.col("n"), 4).alias("chi2"),
    )
