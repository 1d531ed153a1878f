"""Pure-python codec tests: round-trip every format functions/codecs
decodes, exercise every PNG unfilter path, and drive real bytes
through the Spark-side mapInPandas kernel."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from mpi_word_count_spark.functions import codecs
from tests import codec_fixtures as fx
from mpi_word_count_spark.operators.multimodal import decode_media


def _gradient(h=8, w=11):
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, size=(h, w), dtype=np.uint8)


def test_png_roundtrip_all_filter_types():
    img = _gradient()
    for filters in (
        [0] * 8,
        [1] * 8,
        [2] * 8,
        [3] * 8,
        [4] * 8,
        [0, 1, 2, 3, 4, 0, 1, 2],  # mixed, row-to-row dependencies
    ):
        data = codecs.encode_png(img, filters=filters)
        out = codecs.decode_image(data)
        assert out.shape == img.shape
        np.testing.assert_array_equal(out.astype(np.uint8), img)


def test_png_dimensions_and_sniff():
    img = _gradient(5, 9)
    data = codecs.encode_png(img)
    assert codecs.sniff_media(data) == "png"
    assert codecs.media_dimensions(data) == (9, 5, "png")


def test_bmp_roundtrip_and_dimensions():
    img = _gradient(6, 7)
    data = codecs.encode_bmp(img)
    assert codecs.sniff_media(data) == "bmp"
    out = codecs.decode_image(data)
    np.testing.assert_array_equal(out.astype(np.uint8), img)
    assert codecs.media_dimensions(data) == (7, 6, "bmp")


def test_pgm_roundtrip_honors_comments():
    img = _gradient(4, 5)
    data = fx.encode_pgm(img)  # header includes a '#' comment
    out = codecs.decode_image(data)
    np.testing.assert_array_equal(out.astype(np.uint8), img)
    assert codecs.media_dimensions(data) == (5, 4, "pgm")


def test_wav_roundtrip():
    t = np.linspace(0, 1, 1600, dtype=np.float32)
    samples = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    data = codecs.encode_wav(samples)
    assert codecs.sniff_media(data) == "wav"
    out = codecs.decode_audio(data)
    assert out.shape == samples.shape
    # one LSB of int16 quantization + the 32767-encode/32768-decode
    # scale difference
    np.testing.assert_allclose(out, samples, atol=2 / 32768)


def test_jpeg_header_dimensions_without_decode():
    # minimal synthetic JPEG: SOI, APP0 stub, SOF0 with 31x17, EOI.
    # (No entropy data — only the header walk is under test.)
    sof = b"\xff\xc0" + (8 + 3 * 1).to_bytes(2, "big") + bytes([8]) + (
        (17).to_bytes(2, "big") + (31).to_bytes(2, "big") + bytes([1, 1, 0x11, 0])
    )
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
    data = b"\xff\xd8" + app0 + sof + b"\xff\xd9"
    assert codecs.sniff_media(data) == "jpeg"
    assert codecs.media_dimensions(data) == (31, 17, "jpeg")
    # decode is REAL since round 7; a header-only file with no SOS
    # scan is malformed data, not an env-bound format
    with pytest.raises(ValueError, match="SOS"):
        codecs.decode_image(data)


def test_decode_media_dispatches_real_formats():
    img = _gradient()
    gray = decode_media(codecs.encode_png(img), "image/png")
    np.testing.assert_array_equal(gray.astype(np.uint8), img)
    audio = decode_media(codecs.encode_wav(np.zeros(10, np.float32)), "audio/wav")
    assert audio.shape == (10,)
    with pytest.raises(NotImplementedError):
        decode_media(b"garbage-not-a-format", "application/octet-stream")


def test_real_png_bytes_through_spark_kernel(spark):
    """End-to-end: real PNG payloads in a binary column, decoded by a
    mapInPandas kernel using the REAL (fake=False) decode path."""
    import pandas as pd
    from pyspark.sql import types as T

    imgs = {i: _gradient(8, 16 + i) for i in range(4)}
    rows = [(i, bytearray(codecs.encode_png(img))) for i, img in imgs.items()]
    df = spark.createDataFrame(rows, "media_id long, media binary")

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_px", T.DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["media"]):
                arr = decode_media(bytes(payload), "image/png")
                recs.append(
                    (int(mid), arr.shape[1], arr.shape[0], float(arr.mean()))
                )
            yield pd.DataFrame(
                recs, columns=["media_id", "width", "height", "mean_px"]
            )

    got = {r["media_id"]: r for r in df.mapInPandas(kernel, out_schema).collect()}
    for i, img in imgs.items():
        assert (got[i]["width"], got[i]["height"]) == (img.shape[1], img.shape[0])
        assert abs(got[i]["mean_px"] - img.mean()) < 1e-4  # float32 mean


def test_dhash_pixels_contract():
    from tests.media_kernels import dhash_pixels

    img = _gradient(32, 48).astype(np.float32)
    bits = dhash_pixels(img)
    assert bits.shape == (64,) and set(np.unique(bits)) <= {0, 1}
    # deterministic
    np.testing.assert_array_equal(bits, dhash_pixels(img))
    # a horizontal gradient has every left<right -> all zero bits;
    # its mirror all ones
    ramp = np.tile(np.arange(64, dtype=np.float32), (16, 1))
    assert dhash_pixels(ramp).sum() == 0
    assert dhash_pixels(ramp[:, ::-1]).sum() == 64
    # tiny and empty images do not crash
    assert dhash_pixels(np.zeros((1, 1), np.float32)).sum() == 0
    assert dhash_pixels(np.zeros((0, 0), np.float32)).sum() == 0


def test_phash_decoded_media_finds_real_near_dups(spark):
    """Real PNG payloads through the REAL decode path: a slightly
    brightened copy must band-collide with its original via the same
    phash_dups join phash_media uses; an unrelated image must not;
    an undecodable payload is skipped, not fatal."""
    from mpi_word_count_spark.operators.multimodal import phash_dups
    from tests.media_kernels import phash_decoded_media

    rng = np.random.default_rng(11)
    base = rng.integers(0, 200, size=(40, 40), dtype=np.uint8)
    near = np.clip(base.astype(np.int64) + 3, 0, 255).astype(np.uint8)  # brightness
    other = rng.integers(0, 256, size=(40, 40), dtype=np.uint8)
    rows = [
        (1, bytearray(codecs.encode_png(base))),
        (2, bytearray(codecs.encode_png(near))),
        (3, bytearray(codecs.encode_bmp(other))),
        (4, bytearray(b"not an image at all")),
    ]
    media = spark.createDataFrame(rows, "media_id long, media binary")
    hashes = phash_decoded_media(media)
    got = {r["media_id"] for r in hashes.collect()}
    assert got == {1, 2, 3}  # the garbage payload is skipped
    pairs = {
        (r["media_id_1"], r["media_id_2"]): r["hamming"]
        for r in phash_dups(hashes).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert not any(3 in p for p in pairs)


# --- property tests: round-trip holds for ARBITRARY images ---------------

from hypothesis import given, settings, strategies as st


@st.composite
def _uint8_images(draw, max_h=12, max_w=12):
    h = draw(st.integers(1, max_h))
    w = draw(st.integers(1, max_w))
    pixels = draw(
        st.lists(st.integers(0, 255), min_size=h * w, max_size=h * w)
    )
    return np.array(pixels, dtype=np.uint8).reshape(h, w)


@settings(max_examples=60, deadline=None)
@given(img=_uint8_images(), data=st.data())
def test_png_roundtrip_property(img, data):
    filters = data.draw(
        st.lists(
            st.integers(0, 4), min_size=img.shape[0], max_size=img.shape[0]
        )
    )
    out = codecs.decode_image(codecs.encode_png(img, filters=filters))
    np.testing.assert_array_equal(out.astype(np.uint8), img)


@settings(max_examples=40, deadline=None)
@given(img=_uint8_images())
def test_bmp_pgm_roundtrip_property(img):
    np.testing.assert_array_equal(
        codecs.decode_image(codecs.encode_bmp(img)).astype(np.uint8), img
    )
    np.testing.assert_array_equal(
        codecs.decode_image(fx.encode_pgm(img)).astype(np.uint8), img
    )


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.floats(-1.0, 1.0, allow_nan=False, width=32), min_size=1, max_size=500
    )
)
def test_wav_roundtrip_property(samples):
    arr = np.array(samples, dtype=np.float32)
    out = codecs.decode_audio(codecs.encode_wav(arr))
    np.testing.assert_allclose(out, arr, atol=2 / 32768)


@settings(max_examples=50, deadline=None)
@given(img=_uint8_images(max_h=20, max_w=20), data=st.data())
def test_jpeg_roundtrip_property(img, data):
    """JPEG is lossy, so the property is an ERROR BOUND, not equality:
    each dequantized coefficient is off by at most quant/2 (encoder
    rounding), every orthonormal-DCT basis amplitude is ≤ 1/4, so the
    per-pixel reconstruction error is ≤ quant.sum()/8 — derived from
    the actual quality-98 table, not an empirical fudge. Restart
    intervals must not change the decode at all."""
    quality = 98
    scale = 200 - 2 * quality
    quant = np.clip((codecs._JPEG_LUMA_QT * scale + 50) // 100, 1, 255)
    bound = float(quant.sum()) / 8.0 + 0.5
    enc = codecs.encode_jpeg_gray(img, quality=quality)
    dec = codecs.decode_image(enc)
    assert dec.shape == img.shape
    assert float(np.abs(dec - img.astype(np.float32)).max()) <= bound
    ri = data.draw(st.integers(1, 5))
    with_rst = codecs.decode_image(
        codecs.encode_jpeg_gray(img, quality=quality, restart_interval=ri)
    )
    np.testing.assert_array_equal(with_rst, dec)


def test_jpeg_decode_real_gradient():
    """Deterministic (non-property) check on a smooth image: high
    quality keeps the decode within a few gray levels everywhere."""
    y, x = np.mgrid[0:33, 0:41]
    img = ((y * 7 + x * 3) % 180 + 30).astype(np.uint8)
    dec = codecs.decode_image(codecs.encode_jpeg_gray(img, quality=98))
    assert dec.shape == (33, 41)
    assert float(np.abs(dec - img).max()) < 8.0
    w, h, kind = codecs.media_dimensions(codecs.encode_jpeg_gray(img))
    assert (w, h, kind) == (41, 33, "jpeg")


def test_jpeg_unsupported_variants_raise_not_implemented():
    base = codecs.encode_jpeg_gray(np.full((8, 8), 99, np.uint8))
    # progressive DECODES since round 8; a baseline stream merely
    # relabeled SOF2 carries a full-band Ss=0/Se=63 scan, which is
    # malformed AS progressive (DC scans must have Se=0) — bad data,
    # not an env-bound variant
    progressive = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="Se"):
        codecs.decode_image(progressive)
    # lossless (SOF3) DECODES since round 9; a baseline stream merely
    # relabeled SOF3 carries Ss=0, which is malformed AS lossless (the
    # predictor selector must be 1-7) — bad data, not env-bound
    lossless = base.replace(b"\xff\xc0", b"\xff\xc3", 1)
    with pytest.raises(ValueError, match="predictor"):
        codecs.decode_image(lossless)
    # hierarchical JPEG (SOF5) stays env-bound
    hier = base.replace(b"\xff\xc0", b"\xff\xc5", 1)
    with pytest.raises(NotImplementedError, match="SOF5"):
        codecs.decode_image(hier)
    # 4-component (CMYK-style) SOF: rebuild the frame header
    i = base.index(b"\xff\xc0")
    seglen = 8 + 3 * 4
    cmyk_sof = (
        b"\xff\xc0"
        + seglen.to_bytes(2, "big")
        + bytes([8])
        + (8).to_bytes(2, "big")
        + (8).to_bytes(2, "big")
        + bytes([4, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0])
    )
    old_len = 2 + int.from_bytes(base[i + 2 : i + 4], "big")
    cmyk = base[:i] + cmyk_sof + base[i + old_len :]
    with pytest.raises(NotImplementedError, match="4-component"):
        codecs.decode_image(cmyk)
    # non-interleaved multi-scan DECODES since round 8; a 3-component
    # frame whose only scan covers component 1 is malformed (two
    # components never coded), not env-bound
    color = fx.encode_jpeg_rgb(np.full((8, 8, 3), 99, np.uint8))
    j = color.index(b"\xff\xda")
    single_sos = b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0x00, 0, 63, 0])
    old_sos_len = 2 + int.from_bytes(color[j + 2 : j + 4], "big")
    noninterleaved = color[:j] + single_sos + color[j + old_sos_len :]
    with pytest.raises(ValueError, match="missing component"):
        codecs.decode_image(noninterleaved)


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_jpeg_color_roundtrip_property(data):
    """Color JPEG error-bound property. 4:4:4: same per-plane bound as
    grayscale (quant.sum()/8), doubled for the YCbCr->RGB transform's
    error amplification (1.402/1.772 gains) plus float rounding.
    4:2:0 is only bounded when chroma is subsampling-invariant, so it
    is tested with R=G=B input (Cb=Cr=128 constant) where it must
    match the grayscale bound."""
    h = data.draw(st.integers(1, 16))
    w = data.draw(st.integers(1, 16))
    pixels = data.draw(
        st.lists(st.integers(0, 255), min_size=h * w * 3, max_size=h * w * 3)
    )
    rgb = np.array(pixels, dtype=np.uint8).reshape(h, w, 3)
    quant = codecs._jpeg_quant_for_quality(98)
    bound = 2.0 * float(quant.sum()) / 8.0 + 1.0
    expected = rgb.astype(np.float64).mean(axis=2)
    dec = codecs.decode_image(fx.encode_jpeg_rgb(rgb, quality=98))
    assert dec.shape == (h, w)
    assert float(np.abs(dec - expected).max()) <= bound
    gray = rgb[:, :, :1].repeat(3, axis=2)  # chroma-constant input
    dec420 = codecs.decode_image(
        fx.encode_jpeg_rgb(gray, quality=98, subsample="420")
    )
    assert float(np.abs(dec420 - gray[:, :, 0]).max()) <= bound
    ri = data.draw(st.integers(1, 4))
    with_rst = codecs.decode_image(
        fx.encode_jpeg_rgb(rgb, quality=98, restart_interval=ri)
    )
    np.testing.assert_array_equal(
        with_rst, codecs.decode_image(fx.encode_jpeg_rgb(rgb, quality=98))
    )


def test_jpeg_color_420_smooth_image():
    """4:2:0 on a smooth color image: subsampling loses only high-freq
    chroma, so the mean error stays within a gray level or two."""
    yy, xx = np.mgrid[0:24, 0:40]
    rgb = np.stack(
        [
            (yy * 4 + 40) % 200 + 20,
            (xx * 3 + 60) % 200 + 20,
            (yy * 2 + xx * 2 + 80) % 200 + 20,
        ],
        axis=2,
    ).astype(np.uint8)
    expected = rgb.astype(np.float64).mean(axis=2)
    dec = codecs.decode_image(fx.encode_jpeg_rgb(rgb, 95, "420"))
    assert dec.shape == (24, 40)
    assert float(np.abs(dec - expected).mean()) < 2.0
    w, h, kind = codecs.media_dimensions(fx.encode_jpeg_rgb(rgb, 95, "420"))
    assert (w, h, kind) == (40, 24, "jpeg")


def test_jpeg_truncation_and_corruption_raise_value_error():
    enc = codecs.encode_jpeg_gray(
        ((np.mgrid[0:17, 0:19][0] * 9) % 251).astype(np.uint8), quality=90
    )
    with pytest.raises(ValueError):
        codecs.decode_image(enc[:40])  # truncated inside a segment
    with pytest.raises(ValueError):
        codecs.decode_image(enc[: len(enc) // 2])  # truncated entropy data
    desync = enc[:2] + b"junk" + enc[2:]
    with pytest.raises(ValueError):
        codecs.decode_image(desync)


def test_jpeg_through_spark_phash_kernel(spark):
    """The real-decode Spark path now covers JPEG: a grayscale JPEG
    near-duplicate pair is found by phash_decoded_media + phash_dups,
    and the decode counters confirm nothing was skipped."""
    from mpi_word_count_spark.operators.multimodal import phash_dups
    from tests.media_kernels import phash_decoded_media

    y, x = np.mgrid[0:32, 0:32]
    img = ((y * 5 + x * 11) % 190 + 25).astype(np.uint8)
    near = img.copy()
    near[0, 0] = min(254, near[0, 0] + 1)  # one-pixel perturbation
    far = ((x * 13 - y * 7) % 210).astype(np.uint8)
    rows = [
        (1, bytearray(codecs.encode_jpeg_gray(img, 95))),
        (2, bytearray(codecs.encode_jpeg_gray(near, 95))),
        (3, bytearray(codecs.encode_jpeg_gray(far, 95))),
    ]
    media = spark.createDataFrame(rows, "media_id long, media binary")
    hashed = phash_decoded_media(media)
    pairs = {
        (r["media_id_1"], r["media_id_2"])
        for r in phash_dups(hashed, max_hamming=3).collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs
    assert hashed.decode_stats["decoded"].value > 0
    assert hashed.decode_stats["skipped"].value == 0


def test_jpeg_fill_bytes_and_malformed_wav():
    # JPEG with 0xFF fill padding before the SOF marker
    sof = b"\xff\xc0" + (11).to_bytes(2, "big") + bytes([8]) + (
        (5).to_bytes(2, "big") + (7).to_bytes(2, "big") + bytes([1, 1, 0x11, 0])
    )
    data = b"\xff\xd8" + b"\xff\xff\xff" + sof + b"\xff\xd9"
    assert codecs.media_dimensions(data) == (7, 5, "jpeg")
    # truncated RIFF/WAVE raises the uniform ValueError, not wave.Error
    junk = b"RIFF" + b"\x10\x00\x00\x00" + b"WAVE" + b"junk"
    with pytest.raises(ValueError):
        codecs.decode_audio(junk)


def test_uniform_value_error_on_truncation_and_corruption():
    img = _gradient()
    png = codecs.encode_png(img)
    with pytest.raises(ValueError):
        codecs.decode_image(png[:17])  # truncated inside IHDR
    corrupt = bytearray(png)
    corrupt[-20] ^= 0xFF  # flip a byte inside IDAT's deflate stream
    with pytest.raises(ValueError):
        codecs.decode_image(bytes(corrupt))
    with pytest.raises(ValueError):
        codecs.decode_image(codecs.encode_bmp(img)[:20])
    with pytest.raises(ValueError):
        codecs.decode_audio(codecs.encode_wav(np.zeros(100, np.float32))[:30])
    with pytest.raises(ValueError):
        codecs.media_dimensions(png[:17])
    with pytest.raises(ValueError):
        codecs.decode_image(b"P5\n-3 5\n255\n" + bytes(100))  # negative dim


def test_phash_decoded_media_survives_truncated_payloads(spark):
    """The 'never fail the task' contract under the REAL failure
    modes of a crawl: truncation (struct.error inside the codec) and
    bit corruption (zlib.error) — both must be skipped per item."""
    from tests.media_kernels import phash_decoded_media

    img = _gradient(16, 16)
    png = codecs.encode_png(img)
    corrupt = bytearray(png)
    corrupt[-20] ^= 0xFF
    rows = [
        (1, bytearray(png)),
        (2, bytearray(png[:17])),      # truncated mid-IHDR
        (3, bytes(corrupt)),           # corrupted IDAT
        (4, bytearray(b"\xff\xd8jpeg-ish")),  # malformed JPEG (desync)
    ]
    media = spark.createDataFrame(rows, "media_id long, media binary")
    got = {r["media_id"] for r in phash_decoded_media(media).collect()}
    assert got == {1}


def test_extract_features_handles_audio_payloads(spark):
    """fake=False decode returns 1-D for WAV; the pooled-feature and
    resize kernels must not assume 2-D."""
    from pyspark.sql import functions as F
    from mpi_word_count_spark.operators.multimodal import extract_features
    from tests.media_kernels import resize_stub

    wav = codecs.encode_wav(np.linspace(-0.5, 0.5, 400).astype(np.float32))
    png = codecs.encode_png(_gradient(8, 8))
    media = spark.createDataFrame(
        [(1, bytearray(wav), ("audio/wav", len(wav), "s")),
         (2, bytearray(png), ("image/png", len(png), "s"))],
        "media_id long, media binary, meta struct<mime:string,n_bytes:bigint,source:string>",
    )
    feats = {r["media_id"]: r for r in extract_features(media, fake=False).collect()}
    # fixed-dim contract: 1-D audio and an 8-row image both pool to
    # exactly FEATURE_DIM floats (downstream cosine/k-means need this)
    from mpi_word_count_spark.operators.multimodal import FEATURE_DIM

    assert len(feats) == 2
    assert all(len(r["feature"]) == FEATURE_DIM for r in feats.values())
    resized = resize_stub(media, 4, 4, fake=False).collect()
    assert {r["media_id"] for r in resized} == {1, 2}
    assert all(len(bytes(r["media"])) == 4 * 4 * 4 for r in resized)  # float32 4x4


def test_feature_and_resize_skip_undecodable_and_count(spark):
    """extract_features / resize_stub share phash_decoded_media's
    per-item skip contract with fake=False, and all three expose the
    drop rate via decode_stats accumulators (an all-skipped corpus
    must not read as an empty-but-healthy result)."""
    from mpi_word_count_spark.operators.multimodal import extract_features
    from tests.media_kernels import phash_decoded_media, resize_stub

    png = codecs.encode_png(_gradient(8, 8))
    rows = [
        (1, bytearray(png), ("image/png", len(png), "s")),
        (2, bytearray(png[:17]), ("image/png", 17, "s")),  # truncated
        (3, bytearray(b"\xff\xd8jpeg-ish"), ("image/jpeg", 9, "s")),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, media binary, meta struct<mime:string,n_bytes:bigint,source:string>",
    )
    feats = extract_features(media, fake=False)
    assert [r["media_id"] for r in feats.collect()] == [1]
    assert feats.decode_stats["decoded"].value == 1
    assert feats.decode_stats["skipped"].value == 2
    resized = resize_stub(media, 4, 4, fake=False)
    assert [r["media_id"] for r in resized.collect()] == [1]
    assert resized.decode_stats["skipped"].value == 2
    hashed = phash_decoded_media(media)
    assert [r["media_id"] for r in hashed.collect()] == [1]
    assert hashed.decode_stats["decoded"].value == 1
    assert hashed.decode_stats["skipped"].value == 2


def test_encode_png_rejects_mismatched_filter_list():
    img = _gradient(6, 6)
    with pytest.raises(ValueError, match="filters"):
        codecs.encode_png(img, filters=[0, 1])  # 2 entries for height 6
    # an explicit full-height list still works
    assert codecs.decode_image(codecs.encode_png(img, filters=[1] * 6)).shape == (6, 6)


# --- AVI (RIFF) video container ---------------------------------------------


def _frames(n=4, h=6, w=9, seed=11):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=(h, w), dtype=np.uint8) for _ in range(n)]


def test_avi_dib_roundtrip_lossless():
    frames = _frames()
    avi = codecs.encode_avi_dib(frames, fps=12)
    assert codecs.sniff_media(avi) == "avi"
    assert codecs.media_dimensions(avi) == (9, 6, "avi")
    meta = codecs.parse_avi(avi)
    assert meta["n_frames"] == 4 and len(meta["frames"]) == 4
    assert meta["bit_count"] == 8 and meta["fourcc"] == ""
    assert abs(meta["fps"] - 12.0) < 0.01
    for dec, src in zip(codecs.decode_video(avi), frames):
        np.testing.assert_array_equal(dec.astype(np.uint8), src)


def test_avi_dib_width_padding():
    # width 5 -> DIB rows pad to 8 bytes; pad must be dropped on decode
    frames = _frames(n=2, h=3, w=5)
    for dec, src in zip(codecs.decode_video(codecs.encode_avi_dib(frames)), frames):
        np.testing.assert_array_equal(dec.astype(np.uint8), src)


def test_avi_mjpeg_container_is_lossless_around_jpegs():
    imgs = _frames(n=3, h=16, w=16, seed=5)
    jpegs = [codecs.encode_jpeg_gray(i) for i in imgs]
    avi = fx.encode_avi_mjpeg(jpegs, 16, 16, fps=10)
    meta = codecs.parse_avi(avi)
    assert meta["fourcc"] == "MJPG" and meta["frames"] == jpegs
    # frame decode = baseline JPEG decode (lossy): same tolerance as
    # the JPEG round-trip tests
    for frame, src in zip(meta["frames"], imgs):
        dec = codecs.decode_avi_frame(frame, meta)
        assert dec.shape == (16, 16)
        assert np.abs(dec - src.astype(np.float32)).mean() < 12.0


def test_avi_malformed_raises_value_error():
    frames = _frames(n=2)
    avi = codecs.encode_avi_dib(frames)
    with pytest.raises(ValueError):
        codecs.parse_avi(avi[:40])  # truncated inside hdrl
    with pytest.raises(ValueError):
        codecs.parse_avi(b"RIFF\x04\x00\x00\x00WAVE")  # not AVI
    # declared RIFF size past the actual data
    bad = bytearray(avi)
    bad[4:8] = (len(avi) + 100).to_bytes(4, "little")
    with pytest.raises(ValueError):
        codecs.parse_avi(bytes(bad))
    # short DIB frame payload
    meta = codecs.parse_avi(avi)
    with pytest.raises(ValueError):
        codecs.decode_avi_frame(meta["frames"][0][:10], meta)


def test_avi_unknown_codec_env_bound():
    avi = bytearray(codecs.encode_avi_dib(_frames(n=1)))
    pos = avi.find(b"vids")
    avi[pos + 4 : pos + 8] = b"H264"
    meta = codecs.parse_avi(bytes(avi))
    with pytest.raises(NotImplementedError):
        codecs.decode_avi_frame(meta["frames"][0], meta)


def test_avi_through_spark_video_kernels(spark):
    """Real video path on Spark: AVI payloads (one DIB, one MJPG, one
    garbage) through sample_frames(fake=False) and video_frame_stats —
    frames extracted per container, undecodable payloads skipped and
    counted, DIB pixel sums exact."""
    from mpi_word_count_spark.operators.multimodal import (
        sample_frames,
        video_frame_stats,
    )

    dib_frames = _frames(n=5, h=8, w=8, seed=3)
    dib = codecs.encode_avi_dib(dib_frames)
    imgs = _frames(n=3, h=16, w=16, seed=4)
    mjpg = fx.encode_avi_mjpeg([codecs.encode_jpeg_gray(i) for i in imgs], 16, 16)
    rows = [(1, bytearray(dib)), (2, bytearray(mjpg)), (3, bytearray(b"not a video"))]
    media = spark.createDataFrame(rows, "media_id long, media binary")

    frames = sample_frames(media, stride=2, fake=False)
    got = {(r.media_id, r.frame_no): bytes(r.frame) for r in frames.collect()}
    assert frames.decode_stats["decoded"].value == 2
    assert frames.decode_stats["skipped"].value == 1
    # stride 2 over 5 DIB frames -> source frames 0, 2, 4
    assert len([k for k in got if k[0] == 1]) == 3
    meta = codecs.parse_avi(dib)
    np.testing.assert_array_equal(
        codecs.decode_avi_frame(got[(1, 1)], meta).astype(np.uint8), dib_frames[2]
    )
    # MJPG frame payloads pass through the container byte-exactly
    assert got[(2, 0)] == codecs.encode_jpeg_gray(imgs[0])

    stats = video_frame_stats(media, stride=2)
    out = {(r.media_id, r.frame_no): r for r in stats.collect()}
    assert stats.decode_stats["skipped"].value == 1
    r = out[(1, 2)]  # source frame 4
    assert (r.height, r.width, r.n_frames) == (8, 8, 5)
    assert r.px_sum == int(dib_frames[4].astype(np.int64).sum())
    assert out[(2, 0)].height == 16 and len([k for k in out if k[0] == 2]) == 2


# --- GIF ---------------------------------------------------------------------


def test_gif_roundtrip_lossless():
    rng = np.random.default_rng(42)
    for img in [
        rng.integers(0, 256, (13, 17), dtype=np.uint8),
        np.full((5, 5), 77, dtype=np.uint8),
        # large enough to force LZW code-width growth past 9/10/11
        # bits and multiple 255-byte data sub-blocks
        rng.integers(0, 256, (100, 120), dtype=np.uint8),
    ]:
        data = codecs.encode_gif(img)
        assert codecs.sniff_media(data) == "gif"
        assert codecs.media_dimensions(data) == (img.shape[1], img.shape[0], "gif")
        np.testing.assert_array_equal(
            codecs.decode_image(data).astype(np.uint8), img
        )


def test_gif_interlaced_roundtrip():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (23, 11), dtype=np.uint8)
    np.testing.assert_array_equal(
        codecs.decode_image(codecs.encode_gif(img, interlace=True)).astype(np.uint8),
        img,
    )


def test_gif_real_external_encoder_fixture():
    # the canonical 1x1 transparent GIF (public data-URI boilerplate,
    # produced by a real encoder) — catches any drift between our LZW
    # width/clear-code handling and the spec, which a self-round-trip
    # cannot
    onepx = bytes.fromhex(
        "47494638396101000100800000ffffff00000021f904010000"
        "00002c00000000010001000002024401003b"
    )
    out = codecs.decode_image(onepx)
    assert out.shape == (1, 1) and out[0, 0] == 255.0


def test_gif_malformed_raises_value_error():
    img = np.zeros((4, 4), dtype=np.uint8)
    data = codecs.encode_gif(img)
    with pytest.raises(ValueError):
        codecs.decode_image(data[:20])  # truncated mid color table
    with pytest.raises(ValueError):
        codecs.decode_image(b"GIF89a" + b"\x00" * 5)  # no image block
    # corrupt LZW: out-of-range code
    bad = bytearray(data)
    bad[-4] = 0xFF
    try:
        codecs.decode_image(bytes(bad))
    except ValueError:
        pass  # either decodes (code happened valid) or uniform ValueError


def test_gif_animation_compositing():
    rng = np.random.default_rng(3)
    # full-frame animation round-trips losslessly
    frames = [rng.integers(0, 256, (9, 13), dtype=np.uint8) for _ in range(4)]
    out = codecs._decode_gif_frames(fx.encode_gif_frames(frames))
    assert len(out) == 4
    for d, s in zip(out, frames):
        np.testing.assert_array_equal(d.astype(np.uint8), s)
    # single-image decoder returns the first frame of an animation
    np.testing.assert_array_equal(
        codecs.decode_image(fx.encode_gif_frames(frames)).astype(np.uint8),
        frames[0],
    )

    base = np.full((10, 10), 100, dtype=np.uint8)
    # partial frame over retained base (disposal 0 leaves canvas)
    patch = np.full((4, 4), 200, dtype=np.uint8)
    f = codecs._decode_gif_frames(
        fx.encode_gif_frames(
            [base, patch], offsets=[(0, 0), (3, 3)], screen=(10, 10)
        )
    )
    assert f[1][4, 4] == 200 and f[1][0, 0] == 100
    # transparency punches through to the composited canvas
    hole = np.full((4, 4), 50, dtype=np.uint8)
    hole[0, 0] = 42
    f = codecs._decode_gif_frames(
        fx.encode_gif_frames(
            [base, hole], offsets=[(0, 0), (2, 2)], transparent=42, screen=(10, 10)
        )
    )
    assert f[1][2, 2] == 100 and f[1][2, 3] == 50
    # disposal 3 restores the pre-frame canvas
    p1 = np.full((3, 3), 200, dtype=np.uint8)
    p2 = np.full((3, 3), 30, dtype=np.uint8)
    f = codecs._decode_gif_frames(
        fx.encode_gif_frames(
            [base, p1, p2],
            offsets=[(0, 0), (1, 1), (5, 5)],
            disposals=[0, 3, 0],
            screen=(10, 10),
        )
    )
    assert f[1][1, 1] == 200 and f[2][1, 1] == 100 and f[2][5, 5] == 30
    # disposal 2 restores background in the frame's rect
    f = codecs._decode_gif_frames(
        fx.encode_gif_frames(
            [base, p1, p2],
            offsets=[(0, 0), (1, 1), (5, 5)],
            disposals=[0, 2, 0],
            screen=(10, 10),
            background=9,
        )
    )
    assert f[2][1, 1] == 9  # p1's rect reset to background


def test_gif_animation_through_video_frame_stats(spark):
    from mpi_word_count_spark.operators.multimodal import video_frame_stats

    rng = np.random.default_rng(8)
    frames = [rng.integers(0, 256, (8, 8), dtype=np.uint8) for _ in range(5)]
    gif = fx.encode_gif_frames(frames)
    avi = codecs.encode_avi_dib(frames)
    media = spark.createDataFrame(
        [(1, bytearray(gif)), (2, bytearray(avi))], "media_id long, media binary"
    )
    out = {(r.media_id, r.frame_no): r for r in video_frame_stats(media, stride=2).collect()}
    # both containers yield identical per-frame stats for the same frames
    for no, src_idx in enumerate(range(0, 5, 2)):
        want = int(frames[src_idx].astype(np.int64).sum())
        assert out[(1, no)].px_sum == want == out[(2, no)].px_sum
        assert out[(1, no)].n_frames == 5


def test_decode_media_video_first_frame():
    frames = _frames(n=3, h=8, w=8, seed=2)
    avi = codecs.encode_avi_dib(frames)
    np.testing.assert_array_equal(
        decode_media(bytes(avi), "video/avi").astype(np.uint8), frames[0]
    )
    gif = fx.encode_gif_frames(frames)
    np.testing.assert_array_equal(
        decode_media(bytes(gif), "image/gif").astype(np.uint8), frames[0]
    )
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x00\x01\xba mpeg-ish", "video/mpeg")


# --- MP4 (ISO-BMFF) metadata -------------------------------------------------


def test_mp4_dimensions_and_env_bound_decode():
    mp4 = codecs.encode_mp4_stub(640, 360, duration_s=5)
    assert codecs.sniff_media(mp4) == "mp4"
    assert codecs.media_dimensions(mp4) == (640, 360, "mp4")
    with pytest.raises(ValueError):
        codecs.media_dimensions(mp4[:40])  # truncated moov
    with pytest.raises(ValueError):
        codecs.media_dimensions(mp4[:28])  # ftyp only, no trak
    # frame decode genuinely needs a codec library — env-bound contract
    with pytest.raises(NotImplementedError):
        decode_media(mp4, "video/mp4")


def test_gif_lzw_dictionary_cap():
    """Force the 12-bit (4096-entry) LZW dictionary cap: a 256x256
    random image emits ~65k symbols, filling the dictionary several
    times over, so the static-dictionary continuation (encoder and
    decoder both stop adding at 4096) must stay in lockstep."""
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (256, 256), dtype=np.uint8)
    np.testing.assert_array_equal(
        codecs.decode_image(codecs.encode_gif(img)).astype(np.uint8), img
    )
    # run-heavy input drives deep dictionary chains instead of breadth
    runs = np.repeat(np.arange(256, dtype=np.uint8), 300).reshape(256, 300)
    np.testing.assert_array_equal(
        codecs.decode_image(codecs.encode_gif(runs)).astype(np.uint8), runs
    )


@settings(max_examples=60, deadline=None)
@given(img=_uint8_images(), data=st.data())
def test_gif_roundtrip_property(img, data):
    interlace = data.draw(st.booleans())
    out = codecs.decode_image(codecs.encode_gif(img, interlace=interlace))
    np.testing.assert_array_equal(out.astype(np.uint8), img)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(0, 255), min_size=1, max_size=2000).map(bytes),
)
def test_gif_lzw_codec_property(stream):
    """The variable-width LZW pair round-trips ARBITRARY byte streams
    (this is the state machine where an off-by-one in the width-bump
    timing silently corrupts everything downstream)."""
    assert codecs._lzw_decode(codecs._lzw_encode(stream, 8), 8) == stream


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_avi_dib_roundtrip_property(data):
    h = data.draw(st.integers(1, 10))
    w = data.draw(st.integers(1, 10))  # odd widths exercise row padding
    n = data.draw(st.integers(1, 5))
    flat = data.draw(
        st.lists(st.integers(0, 255), min_size=n * h * w, max_size=n * h * w)
    )
    frames = [
        np.array(flat[i * h * w : (i + 1) * h * w], dtype=np.uint8).reshape(h, w)
        for i in range(n)
    ]
    dec = codecs.decode_video(codecs.encode_avi_dib(frames))
    assert len(dec) == n
    for d, s in zip(dec, frames):
        np.testing.assert_array_equal(d.astype(np.uint8), s)


@settings(max_examples=30, deadline=None)
@given(img=_uint8_images(max_h=10, max_w=10), data=st.data())
def test_gif_animation_roundtrip_property(data, img):
    """Full-frame animations round-trip losslessly for arbitrary
    frame stacks (disposal 0, no transparency)."""
    n = data.draw(st.integers(1, 4))
    rng_vals = data.draw(
        st.lists(
            st.integers(0, 255),
            min_size=(n - 1) * img.size,
            max_size=(n - 1) * img.size,
        )
    )
    frames = [img] + [
        np.array(
            rng_vals[i * img.size : (i + 1) * img.size], dtype=np.uint8
        ).reshape(img.shape)
        for i in range(n - 1)
    ]
    out = codecs._decode_gif_frames(fx.encode_gif_frames(frames))
    assert len(out) == n
    for d, s in zip(out, frames):
        np.testing.assert_array_equal(d.astype(np.uint8), s)


# --- TIFF ---------------------------------------------------------------------


def test_tiff_roundtrip_and_dimensions():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (11, 19), dtype=np.uint8)
    t = codecs.encode_tiff(img)
    assert codecs.sniff_media(t) == "tiff"
    assert codecs.media_dimensions(t) == (19, 11, "tiff")
    np.testing.assert_array_equal(codecs.decode_image(t).astype(np.uint8), img)
    with pytest.raises(ValueError):
        codecs.decode_image(t[:30])  # truncated IFD
    with pytest.raises(ValueError):
        codecs.decode_image(b"MM\x00*" + b"\x00\x00\x01\x00")  # bad IFD offset
    # CCITT fax compression stays env-bound (NotImplementedError); a
    # JPEG, Deflate, or LZW tag over a raw-pixel stream is malformed
    # data (ValueError) now that compressions 5, 7, and 8 decode for
    # real
    patched = bytearray(t)
    idx = patched.find((259).to_bytes(2, "little"), 8)
    patched[idx + 8] = 3  # CCITT Group 3 fax
    with pytest.raises(NotImplementedError):
        codecs.decode_image(bytes(patched))
    patched[idx + 8] = 8  # Deflate tag, but strip bytes are raw pixels
    with pytest.raises(ValueError):
        codecs.decode_image(bytes(patched))
    patched[idx + 8] = 7  # JPEG tag, but strip bytes are raw pixels
    with pytest.raises(ValueError):
        codecs.decode_image(bytes(patched))
    patched[idx + 8] = 5  # LZW tag, but strip bytes are raw pixels
    with pytest.raises(ValueError):
        codecs.decode_image(bytes(patched))


@settings(max_examples=40, deadline=None)
@given(img=_uint8_images())
def test_tiff_roundtrip_property(img):
    np.testing.assert_array_equal(
        codecs.decode_image(codecs.encode_tiff(img)).astype(np.uint8), img
    )


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_decoders_never_crash_on_garbage(data):
    """The crawl-robustness contract, fuzzed: ARBITRARY bytes through
    every decoder either decode (if they happen to be valid) or raise
    exactly ValueError / NotImplementedError — never any other
    exception, never a hang. This is what lets the fake=False kernels
    blanket-catch those two types and skip-count bad payloads."""
    for fn in (
        codecs.decode_image,
        codecs.decode_audio,
        codecs.parse_avi,
        codecs.media_dimensions,
        codecs._decode_gif_frames,
    ):
        try:
            fn(data)
        except (ValueError, NotImplementedError):
            pass


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=300), st.sampled_from(
    ["png", "gif", "tiff", "avi", "wav", "jpeg", "mp4"]
))
def test_decoders_never_crash_on_corrupt_headers(payload, kind):
    """Same contract with VALID magic bytes glued onto garbage — the
    adversarial case a format sniffer routes into the real parser."""
    magic = {
        "png": codecs.PNG_SIG,
        "gif": b"GIF89a",
        "tiff": b"II*\x00",
        "avi": b"RIFF\xff\x00\x00\x00AVI ",
        "wav": b"RIFF\xff\x00\x00\x00WAVE",
        "jpeg": b"\xff\xd8",
        "mp4": b"\x00\x00\x00\x14ftypisom",
    }[kind]
    data = magic + payload
    for fn in (codecs.decode_image, codecs.decode_audio,
               codecs.parse_avi, codecs.media_dimensions):
        try:
            fn(data)
        except (ValueError, NotImplementedError):
            pass


def test_tiff_packbits_strip():
    """PackBits-compressed (32773) TIFF strips decode: re-compress an
    uncompressed fixture's strip and patch the compression +
    byte-count tags."""
    import struct

    rng = np.random.default_rng(1)
    img = np.repeat(rng.integers(0, 256, (9, 4), dtype=np.uint8), 5, axis=1)
    t = bytearray(codecs.encode_tiff(img))
    pixel_off = 8 + 2 + 8 * 12 + 4
    comp = fx.packbits_encode(img.tobytes())

    def patch_tag(buf, tag, value):
        idx = buf.find(struct.pack("<H", tag), 8)
        buf[idx + 8 : idx + 12] = struct.pack("<I", value)

    patch_tag(t, 259, 32773)
    patch_tag(t, 279, len(comp))
    data = bytes(t[:pixel_off]) + comp
    np.testing.assert_array_equal(
        codecs.decode_image(data).astype(np.uint8), img
    )
    # truncated compressed strip raises uniformly
    with pytest.raises(ValueError):
        codecs.decode_image(data[:-3])


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=600))
def test_packbits_roundtrip_property(payload):
    assert codecs._packbits_decode(fx.packbits_encode(payload)) == payload


# --- ADVICE r7 codec regressions --------------------------------------------


def _ck(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return cid + len(body).to_bytes(4, "little") + body + pad


def _lst(ltype: bytes, body: bytes) -> bytes:
    return _ck(b"LIST", ltype + body)


def _avi_two_streams(h=6, w=9, top_down=False, audio_first=False):
    """Hand-built AVI: a 'vids' DIB strl AND an 'auds' strl whose
    WAVEFORMATEX carries wBitsPerSample=16 at the same strf offset
    where a BITMAPINFOHEADER keeps biBitCount — the ADVICE r7 trap."""
    import struct as st

    frame = np.arange(h * w, dtype=np.uint8).reshape(h, w) % 256
    row_bytes = (w + 3) & ~3
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, :w] = frame if top_down else frame[::-1]
    payload = rows.tobytes()

    avih = st.pack("<10I", 100000, 0, 0, 0x10, 1, 0, 2, len(payload), w, h) + b"\x00" * 16
    strh_v = (
        b"vids" + b"\x00" * 4
        + st.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 10, 0, 1, len(payload), 0, 0)
        + st.pack("<4H", 0, 0, w, h)
    )
    bi_height = -h if top_down else h
    strf_v = st.pack(
        "<IiiHHIIiiII", 40, w, bi_height, 1, 8, 0, row_bytes * h, 0, 0, 256, 0
    ) + b"".join(st.pack("<BBBB", g, g, g, 0) for g in range(256))
    strl_v = _lst(b"strl", _ck(b"strh", strh_v) + _ck(b"strf", strf_v))

    strh_a = (
        b"auds" + b"\x00" * 4
        + st.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 16000, 0, 16000, 2, 0, 0)
        + st.pack("<4H", 0, 0, 0, 0)
    )
    # WAVEFORMATEX: formatTag=1, ch=1, rate, avgBytes, align=2,
    # wBitsPerSample=16 at byte offset 14 — the collision payload
    strf_a = st.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    strl_a = _lst(b"strl", _ck(b"strh", strh_a) + _ck(b"strf", strf_a))

    strls = strl_a + strl_v if audio_first else strl_v + strl_a
    hdrl = _lst(b"hdrl", _ck(b"avih", avih) + strls)
    vid_no = 1 if audio_first else 0
    aud_no = 0 if audio_first else 1
    movi = b"movi" + _ck(b"%02ddb" % vid_no, payload) + _ck(
        b"%02dwb" % aud_no, b"\x00\x01" * 40
    )
    riff_body = b"AVI " + hdrl + _ck(b"LIST", movi)
    return b"RIFF" + len(riff_body).to_bytes(4, "little") + riff_body, frame


def test_avi_audio_strf_does_not_clobber_video_bit_count():
    for audio_first in (False, True):
        avi, frame = _avi_two_streams(audio_first=audio_first)
        meta = codecs.parse_avi(avi)
        assert meta["bit_count"] == 8, "audio WAVEFORMATEX leaked into bit_count"
        assert len(meta["frames"]) == 1  # audio '..wb' chunk not a frame
        dec = codecs.decode_avi_frame(meta["frames"][0], meta)
        assert np.array_equal(dec.astype(np.uint8), frame)


def test_avi_top_down_dib_not_flipped():
    avi, frame = _avi_two_streams(top_down=True)
    meta = codecs.parse_avi(avi)
    assert meta["top_down"] is True
    dec = codecs.decode_avi_frame(meta["frames"][0], meta)
    assert np.array_equal(dec.astype(np.uint8), frame)
    # and the bottom-up default still flips
    avi_bu, frame_bu = _avi_two_streams(top_down=False)
    meta_bu = codecs.parse_avi(avi_bu)
    assert meta_bu["top_down"] is False
    assert np.array_equal(
        codecs.decode_avi_frame(meta_bu["frames"][0], meta_bu).astype(np.uint8),
        frame_bu,
    )


def test_avi_idx1_offsets_point_at_frame_chunk_headers():
    frames = _frames(n=3)
    avi = codecs.encode_avi_dib(frames, fps=10)
    movi_pos = avi.find(b"movi")
    idx_pos = avi.find(b"idx1")
    n_entries = int.from_bytes(avi[idx_pos + 4 : idx_pos + 8], "little") // 16
    assert n_entries == 3
    body = idx_pos + 8
    for i in range(n_entries):
        ent = avi[body + 16 * i : body + 16 * (i + 1)]
        cid, _flags = ent[:4], ent[4:8]
        offset = int.from_bytes(ent[8:12], "little")
        size = int.from_bytes(ent[12:16], "little")
        # offset-from-'movi'-fourcc convention: it lands ON the ck header
        assert avi[movi_pos + offset : movi_pos + offset + 4] == cid
        assert (
            int.from_bytes(
                avi[movi_pos + offset + 4 : movi_pos + offset + 8], "little"
            )
            == size
        )


def test_avi_junk_chunk_before_hdrl():
    avi = codecs.encode_avi_dib(_frames(n=2))
    junk = _ck(b"JUNK", b"\x00" * 12)
    patched = avi[:12] + junk + avi[12:]
    patched = (
        patched[:4]
        + (len(patched) - 8).to_bytes(4, "little")
        + patched[8:]
    )
    # full parse already handled it; header profiling must agree
    assert codecs.media_dimensions(patched) == (9, 6, "avi")
    assert len(codecs.parse_avi(patched)["frames"]) == 2


def test_gif_first_frame_composites_onto_logical_screen():
    """Animation whose first frame covers only part of the screen:
    decode_image must agree with media_dimensions and with
    _decode_gif_frames(data)[0] (ADVICE r7)."""
    small = np.full((3, 4), 200, dtype=np.uint8)
    big = np.zeros((8, 10), dtype=np.uint8)
    gif = fx.encode_gif_frames(
        [small, big], offsets=[(5, 2), (0, 0)], screen=(10, 8), background=7
    )
    w, h, kind = codecs.media_dimensions(gif)
    assert (w, h, kind) == (10, 8, "gif")
    first = codecs.decode_image(gif)
    assert first.shape == (8, 10)
    frames = codecs._decode_gif_frames(gif)
    assert np.array_equal(first, frames[0])
    # placed block + background fill
    assert (first[2:5, 5:9] == 200.0).all()
    assert first[0, 0] == 7.0


# --- TIFF LZW (compression 5) -----------------------------------------------


def _patch_tiff_tag(buf: bytearray, tag: int, value: int) -> None:
    import struct

    idx = buf.find(struct.pack("<H", tag), 8)
    assert idx >= 0
    buf[idx + 8 : idx + 12] = struct.pack("<I", value)


def test_tiff_lzw_strip_decodes():
    """LZW-compressed (5) TIFF strips: MSB-first bit order and the
    EarlyChange width bump — the GIF LZW machinery (LSB-first) would
    mis-read this stream."""
    rng = np.random.default_rng(7)
    img = np.repeat(rng.integers(0, 256, (11, 5), dtype=np.uint8), 4, axis=1)
    t = bytearray(codecs.encode_tiff(img))
    pixel_off = 8 + 2 + 8 * 12 + 4
    comp = fx.tiff_lzw_encode(img.tobytes())
    _patch_tiff_tag(t, 259, 5)
    _patch_tiff_tag(t, 279, len(comp))
    data = bytes(t[:pixel_off]) + comp
    assert codecs.media_dimensions(data) == (20, 11, "tiff")
    np.testing.assert_array_equal(codecs.decode_image(data).astype(np.uint8), img)
    # garbage inside the stream raises, never crashes
    with pytest.raises(ValueError):
        codecs._tiff_lzw_decode(b"\xff\xff\xff\xff\xff\xff")


def test_tiff_lzw_multi_strip_independent_streams():
    """Each strip is its OWN LZW stream (starts with ClearCode, pads
    its own tail bits): decoding the concatenation would corrupt row
    RowsPerStrip+1. Build a 2-strip file by hand."""
    import struct

    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, (6, 8), dtype=np.uint8)
    top, bottom = img[:3].tobytes(), img[3:].tobytes()
    s1, s2 = fx.tiff_lzw_encode(top), fx.tiff_lzw_encode(bottom)
    entries = [
        (256, 4, 1, 8),
        (257, 4, 1, 6),
        (258, 3, 1, 8),
        (259, 3, 1, 5),
        (262, 3, 1, 1),
        (273, 4, 2, 0),   # patched below (needs an offset array)
        (278, 4, 1, 3),   # RowsPerStrip = 3
        (279, 4, 2, 0),   # patched below
    ]
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * len(entries) + 4
    offs_pos = data_off               # 2x LONG strip offsets
    cnts_pos = data_off + 8           # 2x LONG strip byte counts
    strip1_pos = data_off + 16
    strip2_pos = strip1_pos + len(s1)
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        if tag == 273:
            value = offs_pos
        elif tag == 279:
            value = cnts_pos
        out += struct.pack("<HHII", tag, typ, count, value)
    out += struct.pack("<I", 0)
    out += struct.pack("<II", strip1_pos, strip2_pos)
    out += struct.pack("<II", len(s1), len(s2))
    out += s1 + s2
    np.testing.assert_array_equal(
        codecs.decode_image(bytes(out)).astype(np.uint8), img
    )


def test_tiff_lzw_horizontal_predictor():
    """Predictor 2 (horizontal differencing, TIFF 6.0 §14): stored
    samples are left-neighbour deltas mod 256."""
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (5, 12), dtype=np.uint8)
    deltas = np.diff(img.astype(np.int16), axis=1, prepend=0) % 256
    comp = fx.tiff_lzw_encode(deltas.astype(np.uint8).tobytes())
    t = bytearray(codecs.encode_tiff(img))
    pixel_off = 8 + 2 + 8 * 12 + 4
    _patch_tiff_tag(t, 259, 5)
    _patch_tiff_tag(t, 279, len(comp))
    # graft a Predictor (317) entry by rewriting the RowsPerStrip slot?
    # no — append a 9-entry IFD copy instead: simplest is a fresh file
    import struct

    entries = [
        (256, 4, 1, 12),
        (257, 4, 1, 5),
        (258, 3, 1, 8),
        (259, 3, 1, 5),
        (262, 3, 1, 1),
        (273, 4, 1, 0),  # patched after layout
        (278, 4, 1, 5),
        (279, 4, 1, len(comp)),
        (317, 3, 1, 2),
    ]
    data_off = 8 + 2 + 12 * len(entries) + 4
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        if tag == 273:
            value = data_off
        out += struct.pack("<HHII", tag, typ, count, value)
    out += struct.pack("<I", 0)
    out += comp
    np.testing.assert_array_equal(
        codecs.decode_image(bytes(out)).astype(np.uint8), img
    )


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=800))
def test_tiff_lzw_roundtrip_property(payload):
    assert codecs._tiff_lzw_decode(fx.tiff_lzw_encode(payload)) == payload


def test_tiff_lzw_width_bump_and_reset():
    """Cross the 511-entry EarlyChange boundary and the 4094-entry
    table reset: a long non-repeating byte sequence forces both."""
    payload = bytes(range(256)) * 40  # 10,240 bytes, many new digrams
    assert codecs._tiff_lzw_decode(fx.tiff_lzw_encode(payload)) == payload


# --- MP4 stsd/avc1 codec-id metadata ----------------------------------------


def test_mp4_parse_codec_ids():
    mp4 = codecs.encode_mp4_stub(64, 48, duration_s=3, codec=b"avc1",
                                 avcc=(0x42, 0xC0, 0x1E))
    meta = codecs.parse_mp4(mp4)
    assert (meta["width"], meta["height"]) == (64, 48)
    assert meta["duration_s"] == 3.0
    assert meta["brand"] == "isom"
    assert len(meta["tracks"]) == 1
    t = meta["tracks"][0]
    assert t["handler"] == "vide"
    assert t["codec"] == "avc1"
    assert t["codec_profile"] == "avc1.42C01E"  # Baseline 3.0 triple
    # audio sample entry: codec id without a profile string
    audio = codecs.parse_mp4(codecs.encode_mp4_stub(0, 0, codec=b"mp4a"))
    at = audio["tracks"][0]
    assert (at["handler"], at["codec"], at["codec_profile"]) == ("soun", "mp4a", "")


def test_mp4_parse_no_codec_chain_and_malformed():
    meta = codecs.parse_mp4(codecs.encode_mp4_stub(32, 16))
    assert (meta["width"], meta["height"]) == (32, 16)
    assert meta["tracks"][0]["codec"] == ""
    with pytest.raises(ValueError):
        codecs.parse_mp4(b"\x00\x00\x00\x08free")  # no ftyp
    bad = bytearray(codecs.encode_mp4_stub(8, 8, codec=b"avc1"))
    with pytest.raises(ValueError):
        codecs.parse_mp4(bytes(bad[:60]))  # truncated inside moov
    # media_dimensions still agrees on the richer stub
    assert codecs.media_dimensions(
        codecs.encode_mp4_stub(20, 10, codec=b"avc1")
    ) == (20, 10, "mp4")


# --- progressive JPEG (SOF2, T.81 Annex G) ----------------------------------


def test_progressive_jpeg_equals_baseline_decode():
    """The progressive encoder serializes the SAME quantized
    coefficients as the baseline encoder, just as a scan script —
    so progressive decode must equal baseline decode EXACTLY. This
    cross-checks the Annex G decoder against the independent baseline
    path (different entropy layout, shared reconstruction)."""
    rng = np.random.default_rng(21)
    for shape in [(8, 8), (16, 24), (17, 9), (40, 33), (1, 1)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        base = codecs.decode_image(codecs.encode_jpeg_gray(img, quality=85))
        for successive in (False, True):
            prog = codecs.encode_jpeg_gray_progressive(
                img, quality=85, successive=successive
            )
            assert codecs.media_dimensions(prog) == (shape[1], shape[0], "jpeg")
            np.testing.assert_array_equal(codecs.decode_image(prog), base)


def test_progressive_jpeg_color_and_quality_sweep():
    rng = np.random.default_rng(22)
    img3 = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    base3 = codecs.decode_image(fx.encode_jpeg_rgb(img3, quality=85))
    for successive in (False, True):
        prog3 = fx.encode_jpeg_rgb_progressive(
            img3, quality=85, successive=successive
        )
        np.testing.assert_array_equal(codecs.decode_image(prog3), base3)
    # sparse coefficient regimes (low quality -> long EOB runs; high
    # quality -> dense AC) both round-trip
    flat = np.full((32, 32), 128, dtype=np.uint8)  # all-EOB blocks
    for q in (10, 50, 95):
        for img in (flat, rng.integers(0, 256, (32, 32), dtype=np.uint8)):
            base = codecs.decode_image(codecs.encode_jpeg_gray(img, quality=q))
            prog = codecs.encode_jpeg_gray_progressive(img, quality=q)
            np.testing.assert_array_equal(codecs.decode_image(prog), base)


def test_progressive_jpeg_malformed_raises():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    prog = codecs.encode_jpeg_gray_progressive(img)
    # truncation anywhere inside the scan chain is ValueError, never a
    # crash or silent partial image
    for cut in (len(prog) // 3, len(prog) // 2, len(prog) - 3):
        with pytest.raises(ValueError):
            codecs.decode_image(prog[:cut])
    # SOF2 with no scans at all
    sos = prog.find(b"\xff\xda")
    with pytest.raises(ValueError):
        codecs.decode_image(prog[:sos] + b"\xff\xd9")


@settings(max_examples=25, deadline=None)
@given(img=_uint8_images(), successive=st.booleans())
def test_progressive_jpeg_roundtrip_property(img, successive):
    base = codecs.decode_image(codecs.encode_jpeg_gray(img, quality=80))
    prog = codecs.encode_jpeg_gray_progressive(
        img, quality=80, successive=successive
    )
    np.testing.assert_array_equal(codecs.decode_image(prog), base)


# --- sequential non-interleaved multi-scan JPEG (T.81 A.2) ------------------


def test_multiscan_jpeg_equals_interleaved_decode():
    """One component per SOS, same coefficients as the interleaved
    encoding — decode must match exactly, across subsampling and
    restart intervals."""
    rng = np.random.default_rng(31)
    for shape in [(8, 8), (24, 17), (33, 40), (1, 1)]:
        img3 = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
        for sub in ("444", "420"):
            base = codecs.decode_image(
                fx.encode_jpeg_rgb(img3, quality=85, subsample=sub)
            )
            for ri in (0, 3):
                ms = fx.encode_jpeg_rgb_multiscan(
                    img3, quality=85, subsample=sub, restart_interval=ri
                )
                np.testing.assert_array_equal(codecs.decode_image(ms), base)


def test_multiscan_jpeg_malformed():
    img3 = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    ms = fx.encode_jpeg_rgb_multiscan(img3)
    # dropping the last scan leaves a component undecoded
    last_sos = ms.rfind(b"\xff\xda")
    with pytest.raises(ValueError, match="missing component"):
        codecs.decode_image(ms[:last_sos] + b"\xff\xd9")
    # truncation inside a scan raises uniformly
    with pytest.raises(ValueError):
        codecs.decode_image(ms[: len(ms) // 2])
    # a partially interleaved scan (Ns=2 of 3) stays env-bound: craft
    # an SOS header claiming 2 components
    first_sos = ms.find(b"\xff\xda")
    bad = bytearray(ms)
    bad[first_sos + 2 : first_sos + 4] = (10).to_bytes(2, "big")
    bad[first_sos + 4] = 2
    bad[first_sos + 5 : first_sos + 12] = bytes([1, 0x00, 2, 0x00, 0, 63, 0])
    with pytest.raises(NotImplementedError, match="partially interleaved"):
        codecs.decode_image(bytes(bad))


def test_multiscan_jpeg_non_integer_sampling_ratio():
    """ADVICE r8: the multiscan path must enforce the same
    sampling-factor guard as the interleaved and progressive paths —
    a non-integer hmax/h ratio is NotImplementedError, never a
    mis-sized plane or broadcast crash."""
    img3 = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3) % 256
    ms = bytearray(fx.encode_jpeg_rgb_multiscan(img3))
    sof = ms.find(b"\xff\xc0")
    assert sof > 0
    # component spec starts at sof+2(marker)+2(len)+1(prec)+4(dims)+1(Nf)
    comp0 = sof + 10
    ms[comp0 + 1] = 0x31  # comp 1: h=3, v=1
    ms[comp0 + 4] = 0x21  # comp 2: h=2, v=1 -> hmax=3, 3 % 2 != 0
    with pytest.raises(NotImplementedError, match="non-integer-ratio"):
        codecs.decode_image(bytes(ms))


# --- tiled TIFF (TIFF 6.0 §15) ----------------------------------------------


def test_tiff_tiled_roundtrip_matrix():
    """Tiled organization: per-tile compressed streams, zero-padded
    edge tiles, per-tile-row predictor — exact roundtrips across
    tile geometries, all three compressions, and the predictor."""
    rng = np.random.default_rng(41)
    for shape in [(16, 16), (40, 33), (17, 50), (5, 5)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for comp in (1, 5, 8, 32773):
            for pred in (1, 2):
                t = fx.encode_tiff_tiled(
                    img, 16, 16, compression=comp, predictor=pred
                )
                assert codecs.media_dimensions(t) == (
                    shape[1], shape[0], "tiff",
                )
                np.testing.assert_array_equal(
                    codecs.decode_image(t).astype(np.uint8), img
                )


def test_tiff_tiled_malformed():
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (40, 40), dtype=np.uint8)
    t = fx.encode_tiff_tiled(img, compression=5)
    with pytest.raises(ValueError):
        codecs.decode_image(t[:-10])  # truncated tile stream
    # non-multiple-of-16 tile dims are malformed per §15
    bad = bytearray(t)
    idx = bad.find((322).to_bytes(2, "little"), 8)
    bad[idx + 8 : idx + 12] = (20).to_bytes(4, "little")
    with pytest.raises(ValueError, match="tile size"):
        codecs.decode_image(bytes(bad))


@settings(max_examples=40, deadline=None)
@given(img=_uint8_images(max_h=20, max_w=20), comp=st.sampled_from([1, 5, 32773]))
def test_tiff_tiled_roundtrip_property(img, comp):
    t = fx.encode_tiff_tiled(img, compression=comp, predictor=2)
    np.testing.assert_array_equal(
        codecs.decode_image(t).astype(np.uint8), img
    )


# --- 12-bit extended sequential JPEG (T.81 process 2) ------------------------


def test_jpeg12_roundtrip_matrix():
    """12-bit grayscale (SOF1, 16-bit DQT, extended Huffman ranges):
    tolerance roundtrips across shapes/qualities, restart markers,
    header dims, and the DC-only near-exact case."""
    for shape in [(8, 8), (24, 17), (33, 40), (1, 1)]:
        h, w = shape
        base = np.linspace(0, 4095, h * w).reshape(h, w).astype(np.uint16)
        for q in (75, 95):
            enc = codecs.encode_jpeg_gray12(base, quality=q)
            dec = codecs.decode_image(enc)
            assert dec.shape == shape
            # decode_image contract: 0..255 range whatever the bit depth
            orig255 = base.astype(np.float64) * (255.0 / 4095.0)
            assert np.abs(dec - orig255).mean() < 6.0
        assert codecs.media_dimensions(enc) == (w, h, "jpeg")
    rng = np.random.default_rng(53)
    img = rng.integers(0, 4096, (24, 24), dtype=np.uint16)
    np.testing.assert_array_equal(
        codecs.decode_image(
            codecs.encode_jpeg_gray12(img, quality=90, restart_interval=2)
        ),
        codecs.decode_image(codecs.encode_jpeg_gray12(img, quality=90)),
    )
    flat = np.full((16, 16), 3000, dtype=np.uint16)
    d = codecs.decode_image(codecs.encode_jpeg_gray12(flat))
    assert np.abs(d - 3000 * 255.0 / 4095.0).max() < 0.5


def test_jpeg12_beats_8bit_on_fine_gradient():
    """The reason 12-bit exists: a gradient spanning 2 8-bit counts
    (512 12-bit counts) quantizes to visible steps at 8 bits but
    roundtrips smoothly at 12 — the 12-bit path must carry the extra
    precision end to end, not truncate internally."""
    h, w = 16, 64
    g12 = np.linspace(2000, 2511, h * w).reshape(h, w).astype(np.uint16)
    g8 = np.round(g12.astype(np.float64) * (255.0 / 4095.0)).astype(np.uint8)
    dec12 = codecs.decode_image(codecs.encode_jpeg_gray12(g12, quality=95))
    dec8 = codecs.decode_image(codecs.encode_jpeg_gray(g8, quality=95))
    target = g12.astype(np.float64) * (255.0 / 4095.0)
    err12 = np.abs(dec12 - target).mean()
    err8 = np.abs(dec8 - target).mean()
    assert err12 < err8, (err12, err8)
    assert err12 < 0.2


def test_jpeg12_unsupported_variants_raise():
    img = np.full((8, 8), 2048, dtype=np.uint16)
    enc = bytearray(codecs.encode_jpeg_gray12(img))
    sof = enc.find(b"\xff\xc1")
    # 12-bit progressive: flip SOF1 -> SOF2
    prog = bytearray(enc)
    prog[sof + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="grayscale only"):
        codecs.decode_image(bytes(prog))
    # 12-bit color: claim 3 components (header-level check fires
    # before any entropy decode)
    color = bytearray(enc)
    color[sof + 9] = 3
    with pytest.raises(NotImplementedError, match="grayscale only"):
        codecs.decode_image(bytes(color))
    # 16-bit precision stays NotImplementedError
    deep = bytearray(enc)
    deep[sof + 4] = 16
    with pytest.raises(NotImplementedError, match="16-bit"):
        codecs.decode_image(bytes(deep))
    # out-of-range samples rejected at encode time
    with pytest.raises(ValueError, match="4095"):
        codecs.encode_jpeg_gray12(np.full((4, 4), 4096, dtype=np.uint16))
    # truncation raises uniformly
    with pytest.raises(ValueError):
        codecs.decode_image(bytes(enc[: len(enc) // 2]))


# --- JPEG-in-TIFF (compression 7, TIFF TechNote 2) ----------------------------


def test_tiff_jpeg_roundtrip_matrix():
    """New-style JPEG-in-TIFF: per-strip JPEG streams, with and
    without the JPEGTables (347) shared-tables organization, across
    strip geometries including non-8-aligned and single-strip."""
    rng = np.random.default_rng(61)
    for shape in [(16, 16), (40, 33), (17, 50), (5, 5), (1, 1)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for rps in (8, 16, 7):
            for st in (False, True):
                t = codecs.encode_tiff_jpeg(
                    img, quality=90, rows_per_strip=rps, shared_tables=st
                )
                d = codecs.decode_image(t)
                assert d.shape == shape
                assert codecs.media_dimensions(t) == (
                    shape[1], shape[0], "tiff"
                )
                assert np.abs(d - img.astype(np.float64)).mean() < 15
        # JPEGTables and inline-tables organizations decode identically
        np.testing.assert_array_equal(
            codecs.decode_image(codecs.encode_tiff_jpeg(img, rows_per_strip=8)),
            codecs.decode_image(
                codecs.encode_tiff_jpeg(img, rows_per_strip=8, shared_tables=True)
            ),
        )


def test_tiff_jpeg_strips_equal_whole_image_jpeg():
    """With 8-row-aligned strips, the per-strip encode decodes EXACTLY
    like one whole-image JPEG: blocks are 8-row bands and DC prediction
    is lossless coding, so strip boundaries cannot change decoded
    values. Multi-strip case (4 strips of 8 rows)."""
    rng = np.random.default_rng(67)
    img = rng.integers(0, 256, (32, 20), dtype=np.uint8)
    whole = codecs.decode_image(codecs.encode_jpeg_gray(img, quality=85))
    for st in (False, True):
        strips = codecs.decode_image(
            codecs.encode_tiff_jpeg(
                img, quality=85, rows_per_strip=8, shared_tables=st
            )
        )
        np.testing.assert_array_equal(strips, whole)


def test_tiff_jpeg_malformed_and_unsupported():
    img = np.arange(16 * 16, dtype=np.uint8).reshape(16, 16)
    t = codecs.encode_tiff_jpeg(img, rows_per_strip=8, shared_tables=True)
    # truncation inside a strip raises, never a partial image
    with pytest.raises(ValueError):
        codecs.decode_image(t[: len(t) - 20])
    # corrupt JPEGTables signature
    tab_at = t.find(b"\xff\xd8", 2)  # first embedded SOI = tables stream
    bad = bytearray(t)
    bad[tab_at] = 0x00
    with pytest.raises(ValueError):
        codecs.decode_image(bytes(bad))
    # tiled + compression 7 is NotImplementedError, not silence:
    # craft by patching a tiled TIFF's compression tag to 7
    tiled = bytearray(fx.encode_tiff_tiled(img, 16, 16, compression=1))
    # find the compression IFD entry (tag 259, LE) and set value to 7
    i = tiled.find(struct.pack("<HH", 259, 3))
    assert i > 0
    tiled[i + 8 : i + 12] = struct.pack("<I", 7)
    with pytest.raises(NotImplementedError, match="tiled"):
        codecs.decode_image(bytes(tiled))


def test_tiff_jpeg_color_strip_under_spp1_rejected():
    """A 3-component JPEG strip under SamplesPerPixel=1 is malformed
    (the TIFF declares grayscale): decode must raise ValueError, not
    vstack an RGB-shaped array into the grayscale pipeline."""
    img = np.arange(16 * 16, dtype=np.uint8).reshape(16, 16)
    t = bytearray(codecs.encode_tiff_jpeg(img, rows_per_strip=16))
    color = fx.encode_jpeg_rgb(np.dstack([img, img, img]))
    # single-strip layout: the strip is the file tail and tags 273/279
    # hold inline LONG values — splice the color stream in and patch
    # StripByteCounts
    i273 = t.find(struct.pack("<HHI", 273, 4, 1))
    i279 = t.find(struct.pack("<HHI", 279, 4, 1))
    assert i273 > 0 and i279 > 0
    off = struct.unpack("<I", t[i273 + 8 : i273 + 12])[0]
    t[i279 + 8 : i279 + 12] = struct.pack("<I", len(color))
    t = t[:off] + color
    with pytest.raises(ValueError, match="components"):
        codecs.decode_image(bytes(t))


# --- lossless JPEG (SOF3, T.81 process 14) ------------------------------------


def test_jpeg_lossless_roundtrip_exact_all_predictors():
    """No DCT, no quantization: decode must return the input EXACTLY,
    for every H.1.2 predictor, at 8 and 12 bits."""
    rng = np.random.default_rng(71)
    for shape in [(8, 8), (24, 17), (1, 1), (5, 40)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for p in range(1, 8):
            enc = codecs.encode_jpeg_gray_lossless(img, predictor=p)
            np.testing.assert_array_equal(
                codecs.decode_image(enc), img.astype(np.float32)
            )
            assert codecs.media_dimensions(enc) == (shape[1], shape[0], "jpeg")
    img12 = rng.integers(0, 4096, (16, 16), dtype=np.uint16)
    for p in (1, 4, 7):
        dec = codecs.decode_image(
            codecs.encode_jpeg_gray_lossless(img12, predictor=p, precision=12)
        )
        np.testing.assert_array_equal(
            dec, (img12.astype(np.float64) * (255.0 / 4095.0)).astype(np.float32)
        )


def test_jpeg_lossless_malformed_and_unsupported():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    enc = bytearray(codecs.encode_jpeg_gray_lossless(img, predictor=4))
    # truncation raises, never a partial image
    with pytest.raises(ValueError):
        codecs.decode_image(bytes(enc[: len(enc) - 4]))
    # color lossless stays env-bound
    sof = enc.find(b"\xff\xc3")
    color = bytearray(enc)
    color[sof + 9] = 3
    with pytest.raises(NotImplementedError, match="grayscale"):
        codecs.decode_image(bytes(color))
    # point transform stays env-bound (Al nibble of the SOS tail)
    sos = enc.rfind(b"\xff\xda")
    ptd = bytearray(enc)
    ptd[sos + 9] = 0x02
    with pytest.raises(NotImplementedError, match="point transform"):
        codecs.decode_image(bytes(ptd))
    # bad predictor selector is malformed data
    badp = bytearray(enc)
    badp[sos + 7] = 0
    with pytest.raises(ValueError, match="predictor"):
        codecs.decode_image(bytes(badp))
    # encoder input validation
    with pytest.raises(ValueError, match="predictor"):
        codecs.encode_jpeg_gray_lossless(img, predictor=8)
    with pytest.raises(ValueError, match="4095"):
        codecs.encode_jpeg_gray_lossless(
            np.full((4, 4), 4096, dtype=np.uint16), precision=12
        )
