"""Real-decode media kernels that drive the pure-python codecs through
Spark in the tests: a pixel dHash over decoded images and a resize
kernel over decode_media. No registered query uses them (the
registered media queries hash the byte stream, decode in their own
kernels, or parse headers); the tests use them to check the decoders'
per-item skip contract and decode_stats accounting inside mapInPandas.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from mpi_word_count_spark.operators.multimodal import (
    _BAND_BITS,
    PHASH_BANDS,
    PHASH_BITS,
    _decode_counters,
    decode_media,
)


def dhash_pixels(img: "np.ndarray") -> "np.ndarray":
    """Classic difference-hash over a DECODED grayscale image: resize
    to 9×8 by integer nearest-neighbor (same index arithmetic as
    multimodal.phash_media's byte-probe dHash, so it is deterministic and
    library-independent), then bit (r,c) = px[r,c] > px[r,c+1].
    Returns the 64 bits as an int64 array — band-pack with the same
    (PHASH_BANDS, _BAND_BITS) scheme as phash_media. The standard
    dHash of Krawetz's "Kind of Like That" (public algorithm)."""
    h, w = img.shape
    if h == 0 or w == 0:
        return np.zeros(PHASH_BITS, dtype=np.int64)
    rows = (np.arange(8, dtype=np.int64) * (h - 1)) // 7 if h > 1 else np.zeros(8, np.int64)
    cols = (np.arange(9, dtype=np.int64) * (w - 1)) // 8 if w > 1 else np.zeros(9, np.int64)
    small = img[np.ix_(rows, cols)]
    return (small[:, :-1] > small[:, 1:]).astype(np.int64).reshape(PHASH_BITS)


def phash_decoded_media(media: DataFrame) -> DataFrame:
    """phash_media's REAL-decode twin: decode each payload with the
    pure-python codecs (PNG/BMP/netpbm), dHash the pixels, band-pack.
    Same output schema as phash_media, so phash_dups consumes either —
    the banded-join pairing is decode-agnostic. Payloads that no
    pure-python codec handles are SKIPPED (yielded without a row)
    rather than failed: a 100 TB media crawl always carries undecodable
    items, and dropping them must not kill the job. The drop rate is
    observable via the returned DataFrame's `decode_stats`
    accumulators (decoded/skipped) — an all-skipped corpus must not
    read as 'no duplicates'."""
    out_schema = T.StructType(
        [T.StructField("media_id", T.LongType(), False)]
        + [
            T.StructField(f"b{i}", T.IntegerType(), False)
            for i in range(PHASH_BANDS)
        ]
    )
    weights = 1 << np.arange(_BAND_BITS - 1, -1, -1, dtype=np.int64)
    counters = _decode_counters(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mpi_word_count_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["media"]):
                try:
                    img = codecs.decode_image(bytes(payload))
                except (ValueError, NotImplementedError):
                    counters["skipped"] += 1
                    continue  # undecodable item: skip, never fail the task
                counters["decoded"] += 1
                bits = dhash_pixels(img)
                bands = bits.reshape(PHASH_BANDS, _BAND_BITS) @ weights
                rows.append([int(mid), *(int(b) for b in bands)])
            yield pd.DataFrame(
                rows, columns=["media_id"] + [f"b{i}" for i in range(PHASH_BANDS)]
            )

    out = media.select("media_id", "media").mapInPandas(kernel, schema=out_schema)
    out.decode_stats = counters
    return out


def resize_stub(media: DataFrame, height: int, width: int, fake: bool = True) -> DataFrame:
    """Resize kernel: decode → (fake) nearest-neighbor resample →
    re-encode as raw bytes. Demonstrates binary-in/binary-out batch
    shape; swap the body for a real codec at deployment. With
    fake=False, undecodable payloads are skipped per item (same
    contract as phash_decoded_media / extract_features) and counted in
    the returned DataFrame's `decode_stats` accumulators."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media", T.BinaryType(), True),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("width", T.IntegerType(), False),
        ]
    )
    counters = _decode_counters(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            out: list[bytes] = []
            for mid, payload, meta in zip(pdf["media_id"], pdf["media"], pdf["meta"]):
                try:
                    img = np.atleast_2d(
                        decode_media(bytes(payload), meta["mime"], fake=fake)
                    )
                except (ValueError, NotImplementedError):
                    if fake:
                        raise  # the fake path decodes anything; never mask
                    counters["skipped"] += 1
                    continue
                counters["decoded"] += 1
                ys = np.linspace(0, img.shape[0] - 1, height).astype(int)
                xs = np.linspace(0, img.shape[1] - 1, width).astype(int)
                ids.append(int(mid))
                out.append(img[np.ix_(ys, xs)].astype(np.float32).tobytes())
            # dtype=object: an all-skipped batch otherwise yields a
            # float64 column Arrow cannot convert to binary
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "media": pd.Series(out, dtype=object),
                    "height": height,
                    "width": width,
                }
            )

    result = media.mapInPandas(kernel, schema=out_schema)
    result.decode_stats = counters
    return result
