"""Embedding-space data-audit operators.

Before training on an embedding table you audit it: are the vectors
unit-norm (a silently un-normalized shard breaks cosine retrieval)?
Does any label's cluster have outliers / near-zero spread (duplicate
blobs, collapsed encoder)? These run as full-table scans at 100 TB,
so both operators are single-pass and shuffle at most label-sized
aggregates.

`embedding_norms` is deliberately implemented with `mapInArrow` — the
Arrow-native batch path (no pandas materialization: the kernel reads
the list column's flat values buffer straight into numpy and writes a
new RecordBatch). It is the template for per-row numeric kernels that
outgrow higher-order functions but don't need pandas semantics; the
per-batch cost is one zero-copy buffer view + O(n·d) vector math.
The JVM-expression twin (functions/vector.py norm) exists for the
oracle-parity tests, and the kernel reproduces its left-fold
accumulation order: np.add.reduceat sums each row's squares in index
order, the same order as the F.aggregate fold and DuckDB's
list_dot_product — float64 end to end, so all three agree bit-wise.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mpi_word_count_spark.functions.parity import portable_round
from mpi_word_count_spark.functions.vector import dot, norm

NORMS_SCHEMA = "vec_id long, dim int, l2_norm double, max_abs double"


def _norms_kernel(batches: "Iterator") -> "Iterator":
    """Arrow-batch kernel: (vec_id, embedding list<float>) →
    (vec_id, dim, l2_norm, max_abs). Vectorized over the batch's flat
    values buffer; rows with empty/null lists get dim 0 and 0.0 stats
    (reduceat needs non-empty segments, so empties are masked out and
    back-filled)."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        ids = batch.column("vec_id")
        col = batch.column("embedding")
        if isinstance(col, pa.ChunkedArray):  # pragma: no cover
            col = col.combine_chunks()
        offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        flat = col.values.to_numpy(zero_copy_only=False).astype(np.float64)
        # per-row segment bounds relative to this batch's values slice
        starts, ends = offsets[:-1], offsets[1:]
        dims = (ends - starts).astype(np.int32)
        nonempty = dims > 0
        l2 = np.zeros(len(dims))
        mx = np.zeros(len(dims))
        if flat.size and nonempty.any():
            sq_sums = np.add.reduceat(flat * flat, starts[nonempty])
            l2[nonempty] = np.sqrt(sq_sums)
            mx[nonempty] = np.maximum.reduceat(np.abs(flat), starts[nonempty])
        yield pa.RecordBatch.from_arrays(
            [
                ids,
                pa.array(dims, pa.int32()),
                pa.array(l2, pa.float64()),
                pa.array(mx, pa.float64()),
            ],
            names=["vec_id", "dim", "l2_norm", "max_abs"],
        )


def embedding_norms(emb: DataFrame) -> DataFrame:
    """Per-vector norm audit via the mapInArrow kernel. The embedding
    column is projected before the kernel so the Arrow transfer ships
    exactly (vec_id, embedding) — column pruning still applies to the
    scan under mapInArrow as long as the input projection is explicit.
    """
    raw = emb.select("vec_id", "embedding").mapInArrow(
        _norms_kernel, NORMS_SCHEMA
    )
    return raw.select(
        "vec_id",
        "dim",
        portable_round(F.col("l2_norm")).alias("l2_norm"),
        portable_round(F.col("max_abs")).alias("max_abs"),
    )


def label_centroid_spread(emb: DataFrame) -> DataFrame:
    """Per-label cluster audit: member count, centroid norm, and mean
    cosine(member, centroid) — collapsed encoders show spread ≈ 1 with
    tiny centroid norm; mislabeled shards show low mean cosine.

    Two narrow shuffles, both label-sized:
      1. centroid: posexplode to (label, pos, val) and average — the
         standard dense elementwise aggregate; n·d rows but only d
         doubles per label survive the combine (map-side partial aggs
         make the exchange carry ~labels·d rows);
      2. spread: members re-join the d-element centroids by label
         (broadcast — labels·d is driver-sized by construction) and a
         per-label AVG of the cosine.
    No pairwise work anywhere: O(n·d), the only scalable shape for a
    100 TB audit pass.
    """
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).groupBy("label", "pos").agg(F.avg("col").alias("c"))
    centroids = (
        ex.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "c"))
            ).alias("pc")
        )
        .select(
            "label", F.transform("pc", lambda s: s["c"]).alias("centroid")
        )
    )
    scored = emb.join(F.broadcast(centroids), "label").select(
        "label",
        (
            dot(F.col("embedding"), F.col("centroid"))
            / (norm(F.col("embedding")) * norm(F.col("centroid")))
        ).alias("cos"),
    )
    agg = scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("cos").alias("mean_cos"),
    )
    cnorm = centroids.select(
        "label", norm(F.col("centroid")).alias("centroid_norm")
    )
    return agg.join(cnorm, "label").select(
        "label",
        "n",
        portable_round(F.col("centroid_norm")).alias("centroid_norm"),
        portable_round(F.col("mean_cos")).alias("mean_cos"),
    )


def stage_position_audit(df: DataFrame) -> DataFrame:
    """Summarize a curriculum/shard layout: rows, min/max position per
    (stage, shard) — the invariant check a 100 TB ordered-write job
    runs before publishing a manifest (positions must be dense 1..n)."""
    return df.groupBy("stage", "shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("pos").alias("min_pos"),
        F.max("pos").alias("max_pos"),
    )


PCA_ROUNDS = 12
PCA_Q = 10000  # embedding quantization: tenth-milli integer units


def embedding_pca_power(emb: DataFrame, dim: int = 64) -> DataFrame:
    """First principal component of the embedding cloud by power
    iteration on the covariance matrix — computed the only way that
    works at 100 TB: ONE Arrow pass emits per-batch integer Gram
    partials (Q'Q, column sums, count over 1e-4-quantized components,
    all exact int64), one model-sized shuffle reduces them, and the
    d×d eigen-iteration runs driver-side on the aggregate (the same
    sufficient-statistics shape as the OLS/CV queries, in matrix
    form). Quantization makes the covariance bit-identical across
    engines/partitionings; the power iteration itself then runs on a
    1e-9-quantized INTEGER covariance with an integer iterate, so
    every matvec term and every half-up re-rounding is exact and
    order-independent — the same exact-integer-sum parity pattern as
    the OLS/KS/AUC queries (a float fold would depend on summation
    order, which the SQL oracle does not guarantee).

    Returns one row per dimension: (dim_idx 1-based, variance,
    loading_pc1 — L∞-normalized, pc1_explained = λ/trace)."""
    import math

    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(arr * PCA_Q + 0.5).astype(np.int64)
            gram = q.T @ q
            colsum = q.sum(axis=0)
            i_idx, j_idx, vals = [], [], []
            for i in range(dim):
                for j in range(dim):
                    i_idx.append(i + 1)
                    j_idx.append(j + 1)
                    vals.append(int(gram[i, j]))
                i_idx.append(i + 1)
                j_idx.append(-1)
                vals.append(int(colsum[i]))
            i_idx.append(-1)
            j_idx.append(-1)
            vals.append(len(q))
            yield pd.DataFrame({"i": i_idx, "j": j_idx, "s": vals})

    parts = emb.select("embedding").mapInPandas(
        kernel, schema="i int, j int, s long"
    )
    rows = parts.groupBy("i", "j").agg(F.sum("s").alias("s")).collect()
    sij: dict[tuple[int, int], float] = {}
    si: dict[int, float] = {}
    n = 0.0
    for r in rows:
        if r["i"] == -1:
            n = float(r["s"])
        elif r["j"] == -1:
            si[r["i"]] = float(r["s"])
        else:
            sij[(r["i"], r["j"])] = float(r["s"])

    if n == 0.0:
        raise ValueError(
            "embedding_pca_power: empty embeddings input (n=0)"
        )

    def r(x: float, digits: int) -> float:
        scale = float(10**digits)
        return math.floor(x * scale + 0.5) / scale

    cov = [
        [
            (sij[(i, j)] - si[i] * si[j] / n) / n
            for j in range(1, dim + 1)
        ]
        for i in range(1, dim + 1)
    ]
    # Quantize the covariance to 1e-9 integer units and run the whole
    # recurrence in exact integer arithmetic: Python // is floor
    # division, mirrored in the oracle by an emulated floor-div over
    # HUGEINT, so every 64-term matvec sum is order-independent and
    # every half-up rounding is a rational, not a float op.
    Q = 10**9
    covq = [
        [math.floor(cov[i][j] * float(Q) + 0.5) for j in range(dim)]
        for i in range(dim)
    ]
    vq = [Q] * dim  # iterate at 1e-9 scale; v0 = all-ones
    m = 0
    for _ in range(PCA_ROUNDS):
        wq = [
            (sum(covq[i][j] * vq[j] for j in range(dim)) + Q // 2) // Q
            for i in range(dim)
        ]
        m = max(abs(x) for x in wq)
        if m == 0:
            raise ValueError(
                "embedding_pca_power: degenerate (all-zero) covariance"
            )
        vq = [(2 * x * Q + m) // (2 * m) for x in wq]
    trq = sum(covq[i][i] for i in range(dim))
    if trq <= 0:
        raise ValueError(
            "embedding_pca_power: non-positive covariance trace"
        )
    out = [
        (
            i + 1,
            r(cov[i][i], 6),
            ((vq[i] + 500) // 1000) / 1e6,
            ((2 * m * 10**4 + trq) // (2 * trq)) / 1e4,
        )
        for i in range(dim)
    ]
    return emb.sparkSession.createDataFrame(
        out,
        "dim_idx int, variance double, loading_pc1 double, "
        "pc1_explained double",
    )
