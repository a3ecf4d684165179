"""Multimodal column operators — image/audio/video as opaque ``binary``
columns with typed metadata.

Mirrors the reference's image handling (embedded-image extraction
``pdf_to_png_converter.py:126-196``, visual-region crop
``pdf_processor.py:407-508``, whitespace crop ``image_processor.py:20-120``,
resize ``image_processor.py:162-226``) re-shaped for Spark: payloads never
touch disk, rows carry ``(payload BINARY, media_type, width, height, …)``,
and per-payload numpy does the pixel math.

The sandbox has no image/audio codecs (no Pillow/ffmpeg — SURVEY.md §7),
so the DECODE step is stubbed: ``decode_image_stub`` understands only the
engine's own deterministic fake "RAW1" frame format (magic + w + h + RGB
bytes) and raises ``NotImplementedError`` for real codecs. Everything
around the decode — schema, fan-out, partitioning — is real and tested;
swapping in a real codec touches one function. Every kernel here is one
per-payload function run by ``extract._map_payloads``, which owns the
batch loop and turns a raising payload (NULL, truncated, unsupported
codec) into one ``decode_error`` row instead of a task failure.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _hamming_pairs
from .extract import _map_payloads

# Deterministic fake frame format: b"RAW1" + uint16 w + uint16 h + w*h*3 bytes
_MAGIC = b"RAW1"


def encode_fake_image(w: int, h: int, seed: int = 0) -> bytes:
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return _MAGIC + struct.pack("<HH", w, h) + px.tobytes()


def encode_fake_image_white_border(w: int, h: int, border: int,
                                   seed: int = 0) -> bytes:
    rng = np.random.default_rng(seed)
    px = np.full((h, w, 3), 255, dtype=np.uint8)
    inner = rng.integers(0, 200, size=(h - 2 * border, w - 2 * border, 3),
                         dtype=np.uint8)
    px[border:h - border, border:w - border] = inner
    return _MAGIC + struct.pack("<HH", w, h) + px.tobytes()


def _raw1_size(payload: bytes) -> tuple[int, int]:
    """(w, h) from a RAW1 header; ``ValueError`` unless the body is
    exactly w*h*3 bytes."""
    w, h = struct.unpack_from("<HH", payload, 4)
    if len(payload) - 8 != w * h * 3:
        raise ValueError(f"RAW1 header declares {w}x{h} ({w * h * 3} "
                         f"bytes), body has {len(payload) - 8}")
    return w, h


def decode_image_stub(payload: bytes) -> np.ndarray:
    """STUB decode: only the deterministic RAW1 format is supported in
    this sandbox. Real deployments replace this one function with a
    Pillow/libvips call — the Spark plumbing does not change. Raises
    ``ValueError`` for a NULL payload or a truncated RAW1 body."""
    if payload is None:
        raise ValueError("null payload")
    if payload[:4] != _MAGIC:
        raise NotImplementedError(
            "real image codecs unavailable in sandbox; only RAW1 fakes decode"
        )
    w, h = _raw1_size(payload)
    return np.frombuffer(payload, dtype=np.uint8, offset=8).reshape(h, w, 3)


def _encode(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    return _MAGIC + struct.pack("<HH", w, h) + px.astype(np.uint8).tobytes()


MEDIA_META_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("media_type", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("decode_error", T.StringType(), True),
])


def probe_media(df: DataFrame, payload_col: str = "payload",
                url_col: str = "url") -> DataFrame:
    """Typed metadata without decoding pixels — header-only probe. A
    RAW1 header whose body is not w*h*3 bytes gets a ``decode_error``."""

    def probe(url, payload) -> list:
        if payload is None or len(payload) < 8 or payload[:4] != _MAGIC:
            return [(url, "unknown", None, None,
                     len(payload) if payload is not None else 0,
                     "UnsupportedCodec")]
        w, h = _raw1_size(payload)
        return [(url, "image/raw1", w, h, len(payload), None)]

    return _map_payloads(df, [url_col, payload_col], probe,
                         MEDIA_META_SCHEMA, "decode_error")


CROP_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("decode_error", T.StringType(), True),
])


def whitespace_crop(df: DataFrame, payload_col: str = "payload",
                    url_col: str = "url", threshold: int = 240,
                    pad: int = 10) -> DataFrame:
    """I3 analog (image_processor.py:20-120): bbox of non-white pixels via
    vectorized axis reductions (``is_white = all(RGB >= 240)``, row/col
    ``any``), pad, crop. Per-row errors isolate into ``decode_error``."""

    def crop(url, payload) -> list:
        px = decode_image_stub(payload)
        nonwhite = ~np.all(px >= threshold, axis=2)
        rows = np.any(nonwhite, axis=1)
        cols = np.any(nonwhite, axis=0)
        if not rows.any():  # fully white → unchanged
            return [(url, payload, px.shape[1], px.shape[0], None)]
        r0, r1 = np.argmax(rows), len(rows) - np.argmax(rows[::-1])
        c0, c1 = np.argmax(cols), len(cols) - np.argmax(cols[::-1])
        r0 = max(0, r0 - pad)
        c0 = max(0, c0 - pad)
        r1 = min(px.shape[0], r1 + pad)
        c1 = min(px.shape[1], c1 + pad)
        out = px[r0:r1, c0:c1]
        return [(url, _encode(out), out.shape[1], out.shape[0], None)]

    return _map_payloads(df, [url_col, payload_col], crop, CROP_SCHEMA,
                         "decode_error")


def resize_max_width(df: DataFrame, max_width: int = 1200,
                     payload_col: str = "payload",
                     url_col: str = "url") -> DataFrame:
    """I4 analog (image_processor.py:162-226): downscale to max_width with
    nearest-neighbor sampling (deterministic stand-in for LANCZOS — the
    resampling kernel is codec territory, stubbed like decode)."""

    def resize(url, payload) -> list:
        px = decode_image_stub(payload)
        h, w, _ = px.shape
        if w > max_width:
            nh = max(1, int(h * max_width / w))
            ys = (np.arange(nh) * h // nh)
            xs = (np.arange(max_width) * w // max_width)
            px = px[ys][:, xs]
        return [(url, _encode(px), px.shape[1], px.shape[0], None)]

    return _map_payloads(df, [url_col, payload_col], resize, CROP_SCHEMA,
                         "decode_error")


FRAME_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), True),
])


def sample_frames(df: DataFrame, every_n: int = 2,
                  payload_col: str = "payload",
                  url_col: str = "url") -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: a concatenation of
    RAW1 frames → exploded (url, frame_idx, frame) rows — the row fan-out
    shape (more rows out than in) that a real ffmpeg-backed sampler
    would use. Sampling stops at the first frame whose declared body runs
    past the buffer (that frame is dropped); a NULL payload has no
    frames."""

    def frames(url, payload) -> list:
        buf = payload or b""
        out = []
        idx = 0
        off = 0
        while off + 8 <= len(buf) and buf[off:off + 4] == _MAGIC:
            w, h = struct.unpack_from("<HH", buf, off + 4)
            end = off + 8 + w * h * 3
            if end > len(buf):
                break
            if idx % every_n == 0:
                out.append((url, idx, buf[off:end]))
            idx += 1
            off = end
        return out

    return _map_payloads(df, [url_col, payload_col], frames, FRAME_SCHEMA,
                         None)


@F.arrow_udf(T.BinaryType())
def fake_image_from_seed(seeds: pa.Array) -> pa.Array:
    """Arrow-batched RAW1 fixture generator: one deterministic 16×16
    frame per integer seed — equal seeds yield byte-identical payloads
    (the planted-clone closed form the dHash driver oracle states)."""
    return pa.array([encode_fake_image(16, 16, seed=int(s))
                     for s in seeds.to_pylist()], pa.binary())


DHASH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("dhash", T.LongType(), True),
    T.StructField("decode_error", T.StringType(), True),
])


def dhash64(df: DataFrame, payload_col: str = "payload",
            url_col: str = "url") -> DataFrame:
    """64-bit difference hash per image (the classic dHash): decode →
    integer ITU-R 601 luma (299R+587G+114B, no floats → bit-exact on
    every platform) → deterministic nearest-neighbor 9×8 grid sampling
    (the same integer-index sampling as ``resize_max_width``) →
    horizontal gradient bits (left < right), row-major MSB-first, one
    signed BIGINT. Per-row decode failures isolate into
    ``decode_error`` with a NULL hash — extraction totality."""

    def hasher(url, payload) -> list:
        px = decode_image_stub(payload)
        h, w, _ = px.shape
        luma = px.astype(np.int64) @ np.array([299, 587, 114],
                                              dtype=np.int64)
        ys = np.arange(8) * h // 8
        xs = np.arange(9) * w // 9
        g = luma[ys][:, xs]                      # (8, 9)
        bits = (g[:, :-1] < g[:, 1:]).ravel()    # (64,)
        v = 0
        for bit in bits:                          # MSB-first
            v = (v << 1) | int(bit)
        if v >= 1 << 63:                          # wrap signed
            v -= 1 << 64
        return [(url, v, None)]

    return _map_payloads(df, [url_col, payload_col], hasher, DHASH_SCHEMA,
                         "decode_error")


def image_near_dups(df: DataFrame, max_hamming: int = 3,
                    payload_col: str = "payload",
                    url_col: str = "url") -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance ≤
    ``max_hamming`` (0..7), via the same pigeonhole block join as
    ``simhash_near_duplicates`` (``dedup._hamming_pairs``): candidates
    join on (block, value) — never all pairs — and the full distance
    verifies with one JVM ``bit_count(xor)``. Undecodable payloads
    carry a NULL hash and drop out of pairing."""
    sigs = dhash64(df, payload_col, url_col).select(
        F.col(url_col).alias("id"), F.col("dhash").alias("sig"))
    return _hamming_pairs(sigs, max_hamming).select(
        F.col("id_a").alias("url_a"), F.col("id_b").alias("url_b"),
        "hamming")


def image_features(df: DataFrame, payload_col: str = "payload",
                   url_col: str = "url") -> DataFrame:
    """Feature extraction: mean RGB + luma histogram (8 bins) as an
    ``array<double>`` — the embedding-shaped output a real vision model
    would produce, computed deterministically from pixels."""
    schema = T.StructType([
        T.StructField("url", T.StringType(), True),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
        T.StructField("decode_error", T.StringType(), True),
    ])

    def feats(url, payload) -> list:
        px = decode_image_stub(payload).astype(np.float64)
        mean_rgb = px.mean(axis=(0, 1)) / 255.0
        luma = px @ np.array([0.299, 0.587, 0.114])
        hist, _ = np.histogram(luma, bins=8, range=(0, 255))
        hist = hist / max(1, luma.size)
        return [(url, [*mean_rgb, *hist], None)]

    return _map_payloads(df, [url_col, payload_col], feats, schema,
                         "decode_error")
