"""Batch model-inference queries: broadcast-model scoring of the
corpus (operators/inference.py), value-hash-verified — the oracle
rebuilds the deterministic demo weight table from the same md5
formula and replays the identical integer dot product in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import sql_hash32
from mpi_word_count_spark.functions.parity import (
    portable_round,
    sql_portable_round,
)
from mpi_word_count_spark.operators.inference import (
    FEATURE_DIM,
    FEATURE_SEED,
    WEIGHT_SEED,
    demo_weights,
    hashed_linear_scores,
)
from mpi_word_count_spark.registry import register, sql_regex
from mpi_word_count_spark.tables import table


def _inference_oracle() -> str:
    score = sql_portable_round(
        "coalesce(s.logit_milli, 0) / (1000.0 * s.n_tokens)", 6
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{sql_regex()}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    terms AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        GROUP BY 1, 2
    ),
    w AS (
        SELECT j,
               {sql_hash32("j::VARCHAR", WEIGHT_SEED)} % 2001 - 1000 AS w_int
        FROM range(0, {FEATURE_DIM}) t(j)
    ),
    s AS (
        SELECT t.doc_id,
               CAST(sum(t.tf) AS BIGINT) AS n_tokens,
               CAST(sum(t.tf * w.w_int) AS BIGINT) AS logit_milli
        FROM terms t
        JOIN w ON ({sql_hash32("t.term", FEATURE_SEED)} % {FEATURE_DIM}) = w.j
        GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(s.logit_milli, 0) AS BIGINT) AS logit_milli,
           CASE WHEN coalesce(s.n_tokens, 0) = 0 THEN 0.0
                ELSE {score} END AS score,
           coalesce(s.logit_milli, 0) >= 0 AS keep
    FROM documents d LEFT JOIN s USING (doc_id)
    """


@register("model_quality_scores", oracle=_inference_oracle())
def q_model_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: every document scored by a
    broadcast linear classifier over hashed unigram features — the
    CCNet/fasttext-filter pattern as one tokenize pass + one broadcast
    join + two hash aggregations, integer-exact end to end."""
    docs = table(spark, "documents", sf_dir)
    return hashed_linear_scores(docs, demo_weights(spark))


def _streaming_inference_oracle() -> str:
    from mpi_word_count_spark.sources.synthetic import sql_synth_corpus_cte

    score = sql_portable_round("s.logit_milli / (1000.0 * s.n_tokens)", 6)
    return f"""
    WITH {sql_synth_corpus_cte(1000, "synth")},
    terms AS (
        SELECT doc_id, word AS term, count(*) AS tf
        FROM synth_words GROUP BY 1, 2
    ),
    w AS (
        SELECT j,
               {sql_hash32("j::VARCHAR", WEIGHT_SEED)} % 2001 - 1000 AS w_int
        FROM range(0, {FEATURE_DIM}) t(j)
    ),
    s AS (
        SELECT t.doc_id,
               CAST(sum(t.tf) AS BIGINT) AS n_tokens,
               CAST(sum(t.tf * w.w_int) AS BIGINT) AS logit_milli
        FROM terms t
        JOIN w ON ({sql_hash32("t.term", FEATURE_SEED)} % {FEATURE_DIM}) = w.j
        GROUP BY 1
    )
    SELECT doc_id, n_tokens, logit_milli, {score} AS score,
           logit_milli >= 0 AS keep
    FROM s
    """


@register("streaming_model_scores", oracle=_streaming_inference_oracle())
def q_streaming_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING model inference: the synth connector emits the corpus
    in 5 micro-batches and every arriving document is scored by the
    stateless literal-model expression — append mode, zero streaming
    state, each doc scored exactly once on arrival. The oracle scores
    the whole regenerated corpus in batch SQL, so batch/stream parity
    of the inference path is value-hash-verified (the synth corpus has
    no empty docs, so the append stream and the batch oracle cover the
    same rows)."""
    from mpi_word_count_spark.operators.inference import (
        hashed_linear_scores_stateless,
    )
    from mpi_word_count_spark.sources.synthetic import register_synth_source
    from mpi_word_count_spark.streaming.core import run_to_completion

    register_synth_source(spark)
    stream = (
        spark.readStream.format("synthcorpus")
        .option("n_docs", 1000)
        .option("seed", "synth")
        .option("batch_docs", 200)
        .load()
    )
    return run_to_completion(hashed_linear_scores_stateless(stream), "append")


def _scorer_agreement_oracle() -> str:
    # force text_queries' registrations: _load_all imports this module
    # first (alphabetical), so quality_scores wouldn't be in the
    # registry yet at decoration time
    from mpi_word_count_spark.queries import text_queries  # noqa: F401
    from mpi_word_count_spark.registry import _REGISTRY

    heur = _REGISTRY["quality_scores"][1]
    model = _REGISTRY["model_quality_scores"][1]
    return f"""
    WITH heur AS MATERIALIZED (
        SELECT doc_id, quality_score >= 0.44 AS heuristic_keep
        FROM ({heur})
    ),
    model AS MATERIALIZED (
        SELECT doc_id, keep AS model_keep FROM ({model})
    ),
    j AS (
        SELECT h.heuristic_keep, m.model_keep
        FROM heur h JOIN model m ON h.doc_id = m.doc_id
    ),
    tot AS (SELECT count(*) AS n FROM j)
    SELECT heuristic_keep, model_keep,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(1000 * count(*) // tot.n AS BIGINT) AS share_milli
    FROM j CROSS JOIN tot
    GROUP BY heuristic_keep, model_keep, tot.n
    ORDER BY heuristic_keep, model_keep
    """


@register("quality_scorer_agreement", oracle=_scorer_agreement_oracle())
def q_quality_scorer_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble-filter audit: the 2x2 confusion between the two
    quality gates this engine serves — the heuristic scorer
    (stopword/length/alpha ratios, gated at 0.44, the corpus median, so both branches populate)
    and the hashed-linear model scorer's keep decision. The
    off-diagonal cells are the review queue: documents one gate keeps
    and the other drops are exactly where a curation owner tunes
    thresholds or retrains (the filter-side companion of
    lang_confusion_matrix). Composes the REGISTERED pipelines on both
    sides — the oracle embeds their registered SQL verbatim, so the
    matrix certifies the served configurations.

    Scale shape: both scorers are single-pass per-doc projections;
    the audit joins two doc-keyed boolean tables and emits at most 4
    rows with integer milli shares."""
    from mpi_word_count_spark.queries.text_queries import q_quality_scores

    heur = q_quality_scores(spark, sf_dir).select(
        "doc_id", (F.col("quality_score") >= 0.44).alias("heuristic_keep")
    )
    model = q_model_quality_scores(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("model_keep")
    )
    j = heur.join(model, "doc_id")
    tot = j.agg(F.count(F.lit(1)).alias("n"))
    return (
        j.groupBy("heuristic_keep", "model_keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "heuristic_keep",
            "model_keep",
            "n_docs",
            F.expr("1000 * n_docs div n").cast("bigint").alias("share_milli"),
        )
        .orderBy("heuristic_keep", "model_keep")
    )


def _wilson_oracle() -> str:
    from mpi_word_count_spark.queries import text_queries  # noqa: F401
    from mpi_word_count_spark.registry import _REGISTRY

    heur = _REGISTRY["quality_scores"][1]
    z2 = "3.8416"  # z^2 for z = 1.96
    p = "(CAST(k AS DOUBLE) / n)"
    center = f"({p} + {z2} / (2 * n)) / (1 + {z2} / n)"
    half = (
        f"(1.96 * sqrt({p} * (1 - {p}) / n + {z2} / (4.0 * n * n)))"
        f" / (1 + {z2} / n)"
    )
    pr = sql_portable_round
    return f"""
    WITH scored AS MATERIALIZED (
        SELECT q.doc_id, d.lang,
               CAST(q.quality_score >= 0.44 AS INT) AS kept
        FROM ({heur}) q JOIN documents d ON q.doc_id = d.doc_id
    ),
    agg AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(kept) AS BIGINT) AS k
        FROM scored GROUP BY 1
    )
    SELECT lang, n AS n_docs, k AS n_kept,
           {pr(p, 4)} AS keep_rate,
           {pr(f"greatest({center} - {half}, 0.0)", 4)} AS ci_lo,
           {pr(f"least({center} + {half}, 1.0)", 4)} AS ci_hi
    FROM agg ORDER BY lang
    """


@register("keep_rate_wilson_ci", oracle=_wilson_oracle())
def q_keep_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-gate keep rates WITH UNCERTAINTY: the
    Wilson 95% score interval around each rate — the statistically
    honest gate report (a 60% rate over 40 docs and over 40,000 docs
    are different facts; Wald intervals misbehave at extreme rates and
    small n, Wilson does not). z is the fixed 1.96 constant and sqrt
    is IEEE-exact, so the only float variance is summation-free
    arithmetic on exact integer (k, n) — floored at 4dp on both
    engines. Composes the registered heuristic scorer; one per-doc
    projection + one |langs|-keyed aggregate."""
    from mpi_word_count_spark.queries.text_queries import q_quality_scores

    docs = table(spark, "documents", sf_dir).select("doc_id", "lang")
    scored = (
        q_quality_scores(spark, sf_dir)
        .select("doc_id", (F.col("quality_score") >= 0.44).alias("kept"))
        .join(docs, "doc_id")
    )
    agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("kept").cast("int")).alias("k"),
    )
    from mpi_word_count_spark.functions.parity import portable_round

    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    z2 = F.lit(3.8416)
    p = k / n
    center = (p + z2 / (2 * n)) / (F.lit(1) + z2 / n)
    half = (
        F.lit(1.96)
        * F.sqrt(p * (F.lit(1) - p) / n + z2 / (F.lit(4.0) * n * n))
    ) / (F.lit(1) + z2 / n)
    return agg.select(
        "lang",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("k").cast("bigint").alias("n_kept"),
        portable_round(p, 4).alias("keep_rate"),
        portable_round(F.greatest(center - half, F.lit(0.0)), 4).alias(
            "ci_lo"
        ),
        portable_round(F.least(center + half, F.lit(1.0)), 4).alias("ci_hi"),
    ).orderBy("lang")


def _calibration_oracle() -> str:
    from mpi_word_count_spark.queries import text_queries  # noqa: F401
    from mpi_word_count_spark.registry import _REGISTRY

    heur = _REGISTRY["quality_scores"][1]
    model = _REGISTRY["model_quality_scores"][1]
    return f"""
    WITH heur AS MATERIALIZED (
        SELECT doc_id, quality_score >= 0.44 AS label
        FROM ({heur})
    ),
    model AS MATERIALIZED (
        SELECT doc_id, score FROM ({model})
    ),
    j AS (
        SELECT CAST(floor(m.score * 5) AS BIGINT) AS bin,
               m.score, h.label
        FROM model m JOIN heur h ON m.doc_id = h.doc_id
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_label_keep,
           CAST(1000 * sum(CASE WHEN label THEN 1 ELSE 0 END) // count(*)
                AS BIGINT) AS keep_rate_milli,
           {sql_portable_round("avg(score)", 4)} AS mean_score
    FROM j GROUP BY bin
    """


@register("model_calibration_bins", oracle=_calibration_oracle())
def q_model_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the served model scorer: bin documents
    by the hashed-linear model's per-token score (fixed-width bins,
    floor(score·5), scores live in [−1, 1] since weights are
    per-token milli-integers in [−1000, 1000]) and report each bin's
    empirical keep rate under the HEURISTIC gate — the label proxy
    the scorer is meant to replace. A well-calibrated scorer shows
    keep_rate rising monotonically with the bin; flat or inverted
    bins are where threshold tuning or retraining happens. Composes
    the two REGISTERED scorers (oracle embeds their registered SQL
    verbatim), so the diagram certifies the served configurations —
    the calibration companion of quality_scorer_agreement's 2×2.

    Scale shape: two single-pass per-doc projections, one doc-keyed
    join, then a ≤11-group aggregation — integer milli rates, no
    windows."""
    from mpi_word_count_spark.queries.text_queries import q_quality_scores

    heur = q_quality_scores(spark, sf_dir).select(
        "doc_id", (F.col("quality_score") >= 0.44).alias("label")
    )
    model = q_model_quality_scores(spark, sf_dir).select("doc_id", "score")
    j = heur.join(model, "doc_id").select(
        F.floor(F.col("score") * 5).cast("bigint").alias("bin"),
        "score",
        "label",
    )
    kept = F.sum(F.when(F.col("label"), 1).otherwise(0))
    return j.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        kept.cast("bigint").alias("n_label_keep"),
        F.expr(
            "CAST(1000 * sum(CASE WHEN label THEN 1 ELSE 0 END)"
            " DIV count(*) AS BIGINT)"
        ).alias("keep_rate_milli"),
        portable_round(F.avg("score"), 4).alias("mean_score"),
    )


# --- ROC-AUC from the score histogram ----------------------------------------

_AUC_ORACLE = f"""
    WITH hist AS (
        SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS score,
               CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS pos,
               CAST(count(CASE WHEN event_type <> 'purchase' THEN 1 END)
                    AS BIGINT) AS neg
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT score, pos, neg,
               coalesce(sum(neg) OVER (
                   ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS neg_below
        FROM hist
    ),
    agg AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg,
               CAST(count(*) AS BIGINT) AS n_scores,
               CAST(sum(pos * (2 * neg_below + neg)) AS BIGINT) AS auc2num
        FROM cum
    )
    SELECT n_pos, n_neg, n_scores,
           {sql_portable_round(
               'CAST(auc2num AS DOUBLE)'
               ' / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))',
               6)} AS auc,
           {sql_portable_round(
               'CAST(auc2num AS DOUBLE)'
               ' / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) - 1.0',
               6)} AS gini
    FROM agg
"""


@register("value_auc_audit", oracle=_AUC_ORACLE)
def q_value_auc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC (and Gini) of "event value predicts purchase" — the
    rank statistic every scoring model ships with, computed the
    histogram way: AUC = P(score⁺ > score⁻) + ½P(tie) falls out of
    one pass over the per-score (pos, neg) histogram with a
    cumulative-negatives window, as exact integer arithmetic
    (auc2num/2PN) — never a global rank over rows. Ties get the
    standard midrank credit.

    Scale shape: ONE partial-aggregated groupBy(score) shuffle
    (scores ride as exact milli-units); the cumsum window runs over
    the score-DOMAIN-bounded histogram (≤ ~500k rows whatever the
    corpus size — the bucket-offset argument of order_price_deciles),
    then a 1-row aggregate."""
    from pyspark.sql import Window

    ev = table(spark, "events", sf_dir)
    hist = ev.groupBy(
        F.floor(F.col("value") * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("score")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("pos"),
        F.count(F.when(F.col("event_type") != "purchase", 1))
        .cast("bigint")
        .alias("neg"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    agg = cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.count(F.lit(1)).cast("bigint").alias("n_scores"),
        F.sum(
            F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))
        )
        .cast("bigint")
        .alias("auc2num"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "n_scores",
        portable_round(
            F.col("auc2num").cast("double")
            / (
                2.0
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        ).alias("auc"),
        portable_round(
            F.col("auc2num").cast("double")
            / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
            - 1.0,
            6,
        ).alias("gini"),
    )


# --- weight-of-evidence / information value binning ---------------------------

WOE_BAND = 50  # value band width


_WOE_ORACLE = f"""
    WITH bands AS (
        SELECT CAST(floor(value / {WOE_BAND}) AS BIGINT) AS band,
               CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS n_good,
               CAST(count(CASE WHEN event_type <> 'purchase' THEN 1 END)
                    AS BIGINT) AS n_bad
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT sum(n_good) AS tg, sum(n_bad) AS tb FROM bands
    )
    SELECT band, n_good, n_bad,
           {sql_portable_round(
               'ln(((CAST(n_good AS DOUBLE) + 0.5) / CAST(tg AS DOUBLE))'
               ' / ((CAST(n_bad AS DOUBLE) + 0.5) / CAST(tb AS DOUBLE)))',
               4)} AS woe,
           {sql_portable_round(
               '((CAST(n_good AS DOUBLE) + 0.5) / CAST(tg AS DOUBLE)'
               ' - (CAST(n_bad AS DOUBLE) + 0.5) / CAST(tb AS DOUBLE))'
               ' * ln(((CAST(n_good AS DOUBLE) + 0.5) / CAST(tg AS DOUBLE))'
               ' / ((CAST(n_bad AS DOUBLE) + 0.5) / CAST(tb AS DOUBLE)))',
               6)} AS iv_term
    FROM bands, tot
"""


@register("woe_value_bands", oracle=_WOE_ORACLE)
def q_woe_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value binning of event value
    against the purchase target — the credit-scoring-lineage feature
    diagnostic (Siddiqi 2006) curation pipelines use to decide
    whether a numeric signal carries selection power. Bands are fixed
    widths (no global quantile sort); counts are exact integers with
    the standard +0.5 empty-cell smoothing; WOE's logarithm follows
    the established transcendental-plus-round-4 parity pattern
    (dsir_gumbel_sample).

    Scale shape: one partial-aggregated groupBy(band) shuffle, then
    arithmetic on the band table against a broadcast 1-row total."""
    ev = table(spark, "events", sf_dir)
    bands = ev.groupBy(
        F.floor(F.col("value") / WOE_BAND).cast("bigint").alias("band")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("n_good"),
        F.count(F.when(F.col("event_type") != "purchase", 1))
        .cast("bigint")
        .alias("n_bad"),
    )
    tot = bands.agg(
        F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb")
    )
    j = bands.crossJoin(F.broadcast(tot))
    pg = (F.col("n_good").cast("double") + 0.5) / F.col("tg").cast("double")
    pb = (F.col("n_bad").cast("double") + 0.5) / F.col("tb").cast("double")
    woe = F.log(pg / pb)
    return j.select(
        "band",
        "n_good",
        "n_bad",
        portable_round(woe, 4).alias("woe"),
        portable_round((pg - pb) * woe, 6).alias("iv_term"),
    )


# ---------------------------------------------------------------------------
# multinomial Naive Bayes language classifier
# ---------------------------------------------------------------------------

# Integer micronat device: every model weight is
#   lt(lang, tok) = floor(1e6·ln((c+1)/(n_l+V)) + 0.5)  [BIGINT]
# computed from the SAME exact-integer ratio on both engines, so the
# per-document score is an exact integer SUM of identical terms —
# summation order cannot matter (the residual risk is the per-term
# ln/rounding boundary, the same accepted class as the CCNet-bucket
# weights in curation_queries).
_NB_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '{{regex}}'),
                           x -> x <> '') AS t
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    docs AS (SELECT doc_id, lang FROM documents),
    cnt AS (
        SELECT d.lang, t.tok, CAST(count(*) AS BIGINT) AS c
        FROM tok t JOIN docs d USING (doc_id)
        GROUP BY 1, 2
    ),
    nl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_l FROM cnt GROUP BY 1),
    vocab AS (SELECT DISTINCT tok FROM tok),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    model AS (
        SELECT nl.lang, vb.tok,
               CAST(floor(1000000 * ln(
                   (coalesce(c.c, 0) + 1.0)
                   / CAST(nl.n_l + vs.v AS DOUBLE)) + 0.5) AS BIGINT) AS lt
        FROM nl CROSS JOIN vocab vb CROSS JOIN vsize vs
        LEFT JOIN cnt c ON c.lang = nl.lang AND c.tok = vb.tok
    ),
    prior AS (
        SELECT dl.lang,
               CAST(floor(1000000 * ln(
                   CAST(dl.n_docs AS DOUBLE) / dd.n_total) + 0.5)
                   AS BIGINT) AS pr
        FROM (SELECT lang, count(*) AS n_docs FROM docs GROUP BY 1) dl,
             (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM docs) dd
    ),
    score AS (
        SELECT t.doc_id, m.lang, p.pr + sum(m.lt) AS sc
        FROM tok t
        JOIN model m ON m.tok = t.tok
        JOIN prior p ON p.lang = m.lang
        GROUP BY 1, 2, p.pr
    ),
    pred AS (
        SELECT doc_id, lang AS pred_lang FROM (
            SELECT doc_id, lang, row_number() OVER (
                PARTITION BY doc_id ORDER BY sc DESC, lang ASC) AS rn
            FROM score
        ) WHERE rn = 1
    )
    SELECT d.lang AS true_lang, pr.pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM docs d JOIN pred pr USING (doc_id)
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("naive_bayes_confusion", oracle=_NB_ORACLE.format(regex=sql_regex()))
def q_naive_bayes_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and scored
    on the corpus (add-one smoothing, log-priors), reported as the
    lang × predicted-lang confusion matrix — the classical
    text-classification baseline (McCallum & Nigam 1998) in its
    sufficient-statistics form: the corpus reduces to (lang, token)
    counts, the model is dense |langs|×V, and scoring is a broadcast
    join back over the token stream.

    Weights are integer micronats (see _NB_ORACLE note), so each
    document's score is an exact BIGINT sum and the argmax (ties →
    lang ASC) is deterministic on both engines.

    Scale shape: two corpus-sized stages — the (lang, token) count and
    the scoring join (fan-out ×|langs| map-side before the partial
    (doc, lang) agg, the poisson_bootstrap shape) — everything else is
    model-sized. The dense model stays broadcast-sized for real
    vocabularies (V·|langs| rows of 16 B)."""
    from mpi_word_count_spark.operators.dedup import tokens_col
    from mpi_word_count_spark.operators.relational import topk_per_group

    d = table(spark, "documents", sf_dir)
    docs = d.select("doc_id", "lang")
    # lang rides through the explode instead of being joined back on
    # doc_id afterwards (the oracle's tok⋈docs join is a no-op there:
    # documents holds every doc_id exactly once), removing the only
    # corpus-sized join from the training side
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(tokens_col("text")).alias("tok"),
    )
    cnt = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nl = cnt.groupBy("lang").agg(F.sum("c").cast("long").alias("n_l"))
    # DISTINCT tok over the token stream == DISTINCT tok of the (lang,
    # tok) count table (every token instance carries a lang), so the
    # vocabulary is derived model-sized from cnt instead of
    # re-tokenizing the corpus a third time
    vocab = cnt.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    model = (
        vocab.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(vsize))
        .join(cnt, ["lang", "tok"], "left")
        .select(
            "lang",
            "tok",
            F.expr(
                "CAST(floor(1000000 * ln((coalesce(c, 0) + 1.0)"
                " / CAST(n_l + v AS DOUBLE)) + 0.5) AS BIGINT)"
            ).alias("lt"),
        )
    )
    dl = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    dd = docs.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    prior = dl.crossJoin(F.broadcast(dd)).select(
        "lang",
        F.expr(
            "CAST(floor(1000000 * ln(CAST(n_docs AS DOUBLE) / n_total)"
            " + 0.5) AS BIGINT)"
        ).alias("pr"),
    )
    score = (
        toks.select("doc_id", "tok")
        .join(model, "tok")
        .join(F.broadcast(prior), "lang")
        .groupBy("doc_id", "lang", "pr")
        .agg(F.sum("lt").alias("lts"))
        .select("doc_id", "lang", (F.col("pr") + F.col("lts")).alias("sc"))
    )
    pred = topk_per_group(
        score, ["doc_id"], [F.desc("sc"), F.asc("lang")], k=1
    ).select("doc_id", F.col("lang").alias("pred_lang"))
    return (
        docs.join(pred, "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )
