"""Batch model inference over the corpus: the model-based filtering
step of an LLM data pipeline (CCNet/RedPajama-style quality
classifiers), expressed as pure JVM dataflow.

The production pattern this encodes: a SMALL trained model (here a
linear classifier over hashing-trick bag-of-words features, the
fasttext shape) is broadcast to every executor and applied at scan
speed — no Python in the row path, no model server round-trips. The
corpus is tokenized ONCE, term frequencies shuffle on (doc, term)
with map-side partial counts, feature lookup is a broadcast equi-join
against the weight table, and the per-document reduction is one hash
aggregation. At 100 TB nothing here is driver-bound: the weight table
is O(dim) rows and every other stage is the word-count shuffle shape
the flagship already scales.

Numerics: weights are stored as INTEGER milli-units (w ∈ [-1000,
1000] ≙ [-1.0, 1.0]) so the dot product Σ tf·w is exact int64
arithmetic — associative, partition-order-proof, and bit-identical in
any engine. The only float op is the final normalization
logit/(1000·n_tokens): one division of identical operands, IEEE-
deterministic, then portable rounding. This is the same
integer-fixed-point discipline as operators/graph.py — scores from a
distributed reduction must never depend on summation order.

The keep/drop decision compares the INTEGER logit to the threshold,
so filtering is exact even where a rounded float score would sit on
the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.hashing import hash32, py_hash32
from mpi_word_count_spark.functions.parity import portable_round
from mpi_word_count_spark.operators.dedup import tokens_col

FEATURE_DIM = 512
FEATURE_SEED = "feat"
WEIGHT_SEED = "w"


def demo_weight_rows() -> list[tuple[int, int]]:
    """Deterministic stand-in for trained classifier weights: milli-unit
    ints in [-1000, 1000] derived from md5 so the oracle can rebuild
    the identical table in SQL. In production this is `spark.read` of
    the exported model — same broadcast join, different provenance."""
    return [
        (j, py_hash32(str(j), WEIGHT_SEED) % 2001 - 1000) for j in range(FEATURE_DIM)
    ]


def demo_weights(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(demo_weight_rows(), "j long, w_int long")


def hashed_linear_scores(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Score every document with a linear model over hashed unigram
    features; returns (id, n_tokens, logit_milli, score, keep).

    feature(term) = hash32(term, 'feat') mod dim; the hashing trick
    means Σ_j x_j·w_j = Σ_term tf(term)·w(feature(term)) by
    distributivity, so no per-bucket aggregation is needed — each
    (doc, term, tf) row joins the broadcast weight table and sums.
    score = logit_milli / (1000·n_tokens) is the length-normalized
    activation; keep = logit_milli ≥ 0 decided on the exact integer.
    Documents with zero tokens score 0.0 and are kept (no evidence)."""
    terms = (
        docs.select(F.col("doc_id"), F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    feat = terms.withColumn("j", hash32(F.col("term"), FEATURE_SEED) % FEATURE_DIM)
    scored = (
        feat.join(F.broadcast(weights), "j")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("w_int")).alias("logit_milli"),
        )
    )
    n = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
    logit = F.coalesce(F.col("logit_milli"), F.lit(0)).cast("long")
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        F.col("doc_id"),
        n.alias("n_tokens"),
        logit.alias("logit_milli"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(portable_round(logit / (F.lit(1000.0) * n), 6))
        .alias("score"),
        (logit >= 0).alias("keep"),
    )


def hashed_linear_scores_stateless(docs: DataFrame) -> DataFrame:
    """The STATELESS twin of hashed_linear_scores: the model rides in
    the plan as a literal int array and every document is scored by a
    single row-local expression — tokenize, per-token weight lookup
    via element_at, integer left-fold. No join, no aggregation, no
    shuffle, no state: exactly the shape streaming inference needs
    (append mode, each doc scored once on arrival, state size zero)
    and the degenerate-but-optimal batch plan (scan → project).

    Output contract is identical to hashed_linear_scores (asserted in
    tests/test_inference.py): Σ over token INSTANCES of w(feature(t))
    equals Σ_term tf·w by distributivity, in exact int64 both ways.

    Literal-vs-broadcast tradeoff: a literal array is codegen'd into
    the task binary — perfect for O(100..10k) weights; past that the
    plan bloats and the broadcast-join variant wins. Both keep the
    model off the row path's Python side."""
    w_arr = F.array(*[F.lit(w) for _, w in sorted(demo_weight_rows())])
    toks = tokens_col("text")

    def w_of(t):
        return F.element_at(
            w_arr, (hash32(t, FEATURE_SEED) % FEATURE_DIM + 1).cast("int")
        )

    docs = docs.withColumn("_toks", toks)
    n = F.size("_toks").cast("long")
    logit = F.aggregate(
        F.transform("_toks", w_of),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    return docs.select(
        F.col("doc_id"),
        n.alias("n_tokens"),
        logit.alias("logit_milli"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(portable_round(logit / (F.lit(1000.0) * n), 6))
        .alias("score"),
        (logit >= 0).alias("keep"),
    )
