"""Codec fixture encoders: they only build inputs for the decoder tests.

The decoders under test live in mpi_word_count_spark/functions/codecs.py;
these encoders produce the formats and variants (PGM, colour and
multi-scan/progressive JPEG, animated GIF, tiled TIFF, MJPG AVI) that no
registered query writes, so they are kept with the tests that use them.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from mpi_word_count_spark.functions.codecs import (
    _ENC_AC_BITS,
    _ENC_AC_VALS,
    _ENC_DC_BITS,
    _ENC_DC_VALS,
    _UNZIGZAG,
    _BitWriter,
    _avi_container,
    _encode_jpeg_block,
    _huffman_encode_map,
    _jpeg_coef_blocks,
    _jpeg_headers,
    _jpeg_progressive_stream,
    _jpeg_quant_for_quality,
    _lzw_encode,
)


def encode_pgm(gray: np.ndarray) -> bytes:
    arr = np.asarray(gray, dtype=np.uint8)
    height, width = arr.shape
    return f"P5\n# test\n{width} {height}\n255\n".encode() + arr.tobytes()


def encode_jpeg_rgb(
    rgb: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a baseline interleaved
    YCbCr JPEG — 4:4:4 (subsample='444') or 4:2:0 ('420', 2x2
    box-mean chroma). Test support for the color decode path; same
    custom Huffman tables and quality-scaled quant table as
    encode_jpeg_gray, shared across the three components."""
    height, width, (y_p, cb_p, cr_p), (hy, vy), mcus_x, mcus_y = (
        jpeg_ycbcr_planes(rgb, subsample)
    )
    quant = _jpeg_quant_for_quality(quality)
    dc_map = _huffman_encode_map(_ENC_DC_BITS, _ENC_DC_VALS)
    ac_map = _huffman_encode_map(_ENC_AC_BITS, _ENC_AC_VALS)
    comps = [
        (y_p, hy, vy),
        (cb_p, 1, 1),
        (cr_p, 1, 1),
    ]
    entropy = bytearray()
    writer = _BitWriter()
    preds = [0, 0, 0]
    n_mcus = mcus_x * mcus_y
    for mcu_idx in range(n_mcus):
        if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
            entropy += writer.finish()
            entropy += bytes(
                [0xFF, 0xD0 + (mcu_idx // restart_interval - 1) % 8]
            )
            writer = _BitWriter()
            preds = [0, 0, 0]
        my, mx = divmod(mcu_idx, mcus_x)
        for ci, (plane, ch, cv) in enumerate(comps):
            for by in range(cv):
                for bx in range(ch):
                    y0 = (my * cv + by) * 8
                    x0 = (mx * ch + bx) * 8
                    preds[ci] = _encode_jpeg_block(
                        writer,
                        plane[y0 : y0 + 8, x0 : x0 + 8],
                        quant,
                        dc_map,
                        ac_map,
                        preds[ci],
                    )
    entropy += writer.finish()
    headers = _jpeg_headers(
        quant, height, width, [(hy, vy), (1, 1), (1, 1)], restart_interval
    )
    return headers + bytes(entropy) + b"\xff\xd9"


def encode_jpeg_rgb_multiscan(
    rgb: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Sequential NON-interleaved multi-scan color JPEG (test
    encoder): SOF0 + three single-component SOS segments, each
    raster-coding its component's own block grid with ordinary
    baseline data units — the same coefficients as encode_jpeg_rgb,
    serialized one component per scan, so decode must match the
    interleaved encoding EXACTLY."""
    height, width, planes, (hy, vy), mcus_x, mcus_y = jpeg_ycbcr_planes(
        rgb, subsample
    )
    quant = _jpeg_quant_for_quality(quality)
    dc_map = _huffman_encode_map(_ENC_DC_BITS, _ENC_DC_VALS)
    ac_map = _huffman_encode_map(_ENC_AC_BITS, _ENC_AC_VALS)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    samplings = [(hy, vy), (1, 1), (1, 1)]
    dqt = seg(0xDB, bytes([0x00]) + bytes(int(x) for x in quant[_UNZIGZAG]))
    sof_comps = b"".join(
        bytes([i + 1, (h << 4) | v, 0]) for i, (h, v) in enumerate(samplings)
    )
    sof = seg(0xC0, struct.pack(">BHHB", 8, height, width, 3) + sof_comps)
    dht = seg(0xC4, bytes([0x00]) + bytes(_ENC_DC_BITS) + _ENC_DC_VALS) + seg(
        0xC4, bytes([0x10]) + bytes(_ENC_AC_BITS) + _ENC_AC_VALS
    )
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    out = bytearray(b"\xff\xd8" + dqt + sof + dht + dri)
    for ci, (plane, (ch, cv)) in enumerate(zip(planes, samplings)):
        # non-interleaved raster over the component's OWN block grid
        nbx = -(-(-(-(width * ch) // hy)) // 8)
        nby = -(-(-(-(height * cv) // vy)) // 8)
        out += seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        writer = _BitWriter()
        pred = 0
        for b in range(nbx * nby):
            if restart_interval and b and b % restart_interval == 0:
                out += writer.finish()
                out += bytes([0xFF, 0xD0 + (b // restart_interval - 1) % 8])
                writer = _BitWriter()
                pred = 0
            by, bx = divmod(b, nbx)
            pred = _encode_jpeg_block(
                writer,
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                quant,
                dc_map,
                ac_map,
                pred,
            )
        out += writer.finish()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_rgb_progressive(
    rgb: np.ndarray, quality: int = 90, successive: bool = True
) -> bytes:
    """Progressive (SOF2) 4:4:4 YCbCr color JPEG: interleaved DC scan
    across the three components + per-component AC scans."""
    arr = np.asarray(rgb, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) RGB, got {arr.shape}")
    height, width = arr.shape[:2]
    if height == 0 or width == 0:
        raise ValueError("empty image")
    quant = _jpeg_quant_for_quality(quality)
    r = arr[:, :, 0].astype(np.float64)
    g = arr[:, :, 1].astype(np.float64)
    b = arr[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    bh, bw = (height + 7) // 8, (width + 7) // 8
    coefs = []
    for plane in (y, cb, cr):
        padded = np.pad(
            plane - 128.0,
            ((0, bh * 8 - height), (0, bw * 8 - width)),
            mode="edge",
        )
        coefs.append(_jpeg_coef_blocks(padded, quant))
    return _jpeg_progressive_stream(
        coefs, [(1, 1)] * 3, quant, height, width, successive
    )


def encode_avi_mjpeg(jpeg_frames: list[bytes], width: int, height: int, fps: int = 10) -> bytes:
    """RIFF-AVI with one baseline-JPEG payload per '00dc' frame (the
    MJPG coding — the container is lossless around the JPEGs)."""
    return _avi_container(jpeg_frames, width, height, b"MJPG", 24, fps)


def encode_gif_frames(
    frames: list[np.ndarray],
    offsets: list[tuple[int, int]] | None = None,
    disposals: list[int] | None = None,
    transparent: int = -1,
    screen: tuple[int, int] | None = None,
    background: int = 0,
) -> bytes:
    """Encode an animated GIF89a (test encoder): each uint8 frame
    becomes one image block at its (left, top) offset, preceded by a
    Graphic Control Extension carrying its disposal method and an
    optional transparent index. Gray 256-entry global table."""
    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not arrs:
        raise ValueError("need at least one frame")
    offsets = offsets or [(0, 0)] * len(arrs)
    disposals = disposals or [0] * len(arrs)
    if screen is None:
        sw = max(left + a.shape[1] for a, (left, _) in zip(arrs, offsets))
        sh = max(top + a.shape[0] for a, (_, top) in zip(arrs, offsets))
    else:
        sw, sh = screen
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | 0x07, background, 0)
    out += bytes(v for g in range(256) for v in (g, g, g))
    for arr, (left, top), disp in zip(arrs, offsets, disposals):
        h, w = arr.shape
        gce_packed = (disp & 0x07) << 2 | (0x01 if transparent >= 0 else 0)
        out += b"\x21\xf9\x04" + bytes(
            [gce_packed, 0, 0, transparent if transparent >= 0 else 0]
        ) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHH", left, top, w, h) + b"\x00"
        out += bytes([8])
        stream = _lzw_encode(arr.tobytes(), 8)
        for i in range(0, len(stream), 255):
            chunk = stream[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def encode_tiff_tiled(
    gray: np.ndarray,
    tile_w: int = 16,
    tile_l: int = 16,
    compression: int = 1,
    predictor: int = 1,
) -> bytes:
    """Encode (H, W) uint8 grayscale as a TILED little-endian TIFF 6.0
    (§15): TileWidth/TileLength tags (must be multiples of 16), one
    independently-compressed stream per tile (none / LZW / PackBits),
    edge tiles zero-padded to full tile size, optional horizontal-
    differencing predictor applied per tile row. Test encoder for the
    tiled decode path."""
    arr = np.asarray(gray, dtype=np.uint8)
    h, w = arr.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if tile_w % 16 or tile_l % 16:
        raise ValueError("TIFF tile dims must be multiples of 16")
    across, down = -(-w // tile_w), -(-h // tile_l)
    n = across * down
    payloads: list[bytes] = []
    for t in range(n):
        ty, tx = divmod(t, across)
        block = np.zeros((tile_l, tile_w), dtype=np.uint8)
        seg = arr[
            ty * tile_l : ty * tile_l + tile_l,
            tx * tile_w : tx * tile_w + tile_w,
        ]
        block[: seg.shape[0], : seg.shape[1]] = seg
        if predictor == 2:
            block = (
                np.diff(block.astype(np.int16), axis=1, prepend=0) % 256
            ).astype(np.uint8)
        payload = block.tobytes()
        if compression == 5:
            payload = tiff_lzw_encode(payload)
        elif compression == 8:
            payload = zlib.compress(payload)
        elif compression == 32773:
            payload = packbits_encode(payload)
        payloads.append(payload)

    entries: list[tuple[int, int, int, int]] = [
        (256, 4, 1, w),
        (257, 4, 1, h),
        (258, 3, 1, 8),
        (259, 3, 1, compression),
        (262, 3, 1, 1),
    ]
    if predictor == 2:
        entries.append((317, 3, 1, 2))
    entries += [(322, 4, 1, tile_w), (323, 4, 1, tile_l)]
    n_entries = len(entries) + 2  # + TileOffsets + TileByteCounts
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_entries + 4
    # external LONG arrays unless a single value fits inline (≤4 bytes)
    ext = bytearray()
    if n == 1:
        offs_value_is_inline = True
        tiles_pos = data_off
    else:
        offs_value_is_inline = False
        offs_pos = data_off
        cnts_pos = offs_pos + 4 * n
        tiles_pos = cnts_pos + 4 * n
    offsets = []
    cursor = tiles_pos
    for p in payloads:
        offsets.append(cursor)
        cursor += len(p)
    if offs_value_is_inline:
        entries += [(324, 4, 1, offsets[0]), (325, 4, 1, len(payloads[0]))]
    else:
        entries += [(324, 4, n, offs_pos), (325, 4, n, cnts_pos)]
        ext += b"".join(struct.pack("<I", o) for o in offsets)
        ext += b"".join(struct.pack("<I", len(p)) for p in payloads)
    entries.sort()
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", n_entries)
    for tag, typ, count, value in entries:
        out += struct.pack("<HHII", tag, typ, count, value)
    out += struct.pack("<I", 0)  # next-IFD pointer
    out += ext
    for p in payloads:
        out += p
    return bytes(out)


def jpeg_ycbcr_planes(rgb: np.ndarray, subsample: str):
    """Forward BT.601 transform + optional 4:2:0 chroma downsample +
    MCU padding: (height, width, [y, cb, cr] level-shifted padded
    planes, (hy, vy) luma sampling, mcus_x, mcus_y)."""
    arr = np.asarray(rgb, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) RGB, got {arr.shape}")
    height, width = arr.shape[:2]
    if height == 0 or width == 0:
        raise ValueError("empty image")
    if subsample not in ("444", "420"):
        raise ValueError(f"subsample {subsample!r} not in ('444', '420')")
    r = arr[:, :, 0].astype(np.float64)
    g = arr[:, :, 1].astype(np.float64)
    b = arr[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b  # BT.601 forward (T.871)
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    hy = vy = 2 if subsample == "420" else 1
    mcus_x = -(-width // (8 * hy))
    mcus_y = -(-height // (8 * vy))

    def pad_plane(p: np.ndarray, ph: int, pw: int) -> np.ndarray:
        return np.pad(
            p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"
        )

    if subsample == "420":
        # 2x2 box-mean downsample on an edge-padded even grid
        even = pad_plane(cb, (height + 1) & ~1, (width + 1) & ~1)
        cb_s = even.reshape(even.shape[0] // 2, 2, even.shape[1] // 2, 2).mean(
            axis=(1, 3)
        )
        even = pad_plane(cr, (height + 1) & ~1, (width + 1) & ~1)
        cr_s = even.reshape(even.shape[0] // 2, 2, even.shape[1] // 2, 2).mean(
            axis=(1, 3)
        )
    else:
        cb_s, cr_s = cb, cr
    y_p = pad_plane(y, mcus_y * vy * 8, mcus_x * hy * 8) - 128.0
    cb_p = pad_plane(cb_s, mcus_y * 8, mcus_x * 8) - 128.0
    cr_p = pad_plane(cr_s, mcus_y * 8, mcus_x * 8) - 128.0
    return height, width, [y_p, cb_p, cr_p], (hy, vy), mcus_x, mcus_y


def tiff_lzw_encode(payload: bytes) -> bytes:
    """TIFF 6.0 §13 LZW encoder (tests): MSB-first bit packing,
    EarlyChange width bumps mirroring _tiff_lzw_decode, ClearCode
    emitted up front and whenever the table reaches 4094 entries (the
    spec's mandated writer reset point)."""
    clear, eoi = 256, 257
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = fresh()
    emit(clear, width)
    w = b""
    for b in payload:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        # the encoder's table runs one entry ahead of the decoder's
        # (the decoder adds each entry one code later), so its
        # EarlyChange bump fires at 2^width where the decoder's fires
        # at 2^width - 1 — the same inter-code gap
        if next_code == (1 << width) and width < 12:
            width += 1
        elif next_code == 4094:
            emit(clear, width)
            table, next_code, width = fresh()
        w = bytes([b])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """PackBits encoder (tests): greedy runs — repeats of length >= 2
    become repeat packets, everything else literal packets."""
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while i + run < len(data) and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out += bytes([256 - (run - 1), data[i]])
            i += run
            continue
        j = i + 1
        while (
            j < len(data)
            and j - i < 128
            and not (j + 1 < len(data) and data[j] == data[j + 1])
        ):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)
