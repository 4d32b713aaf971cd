"""Image payload plumbing: decode / PSNR / perceptual-hash as Arrow-batched
pandas UDFs over ``binary`` columns.

The graft's documents are image+caption rows (BASELINE.json input_hint:
(image_id, bytes, w, h, fmt, caption, phash)). The container ships no image
libraries, so:

- **PNG is real**: a minimal pure-Python PNG codec (stdlib zlib + struct),
  8-bit RGB, filter type 0, single IDAT. Deterministic round-trip —
  encode(decode(x)) == x — so the per-row invariant (decoded-pixel equality,
  PSNR=∞) is genuinely testable.
- **JPEG is real** (round 4): ``fmt='jpeg'`` payloads are genuine baseline
  JFIF bytes from the pure-numpy codec in ``functions/jpeg.py`` (DCT +
  Annex-K quant/Huffman tables, 4:4:4) — decode parses real marker
  structure and the lossy PSNR≥40dB invariant runs on real JPEG math.
  Non-baseline flavors (progressive, subsampled, 12-bit) raise a precise
  ValueError — a documented container limitation. The earlier deterministic
  stub codec (`_FAKE_JPEG_MAGIC`) remains decodable for back-compat with
  fixtures written by older rounds.

All entry points are pandas UDFs over Arrow batches, so no row crosses
py4j on its own, but inside a batch each payload is still decoded by its
own Python call. PNG decode, PSNR and mean are whole-array numpy per image;
phash and resize loop over their few output cells. JPEG decode is numpy
except its entropy decoder, which is table-driven but still a Python loop
over the coded symbols (see ``functions/jpeg.py``) — the one per-symbol
interpreter cost left in image validation.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, LongType

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_FAKE_JPEG_MAGIC = b"FAKEJPG1"  # deterministic stub container (see module doc)
_JPEG_QUANT = 8  # quantization step of the stub codec → PSNR ≈ 48 dB

PSNR_INF = 99.0  # dB value reported for identical pixels


# --- pure-python PNG (RGB8, filter 0) --------------------------------------

def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (filter 0, fixed zlib level → bitwise
    deterministic for a given input)."""
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    idat = zlib.compress(raw, 6)
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8. Supports the subset png_encode emits
    plus filter types 0-4 (full un-filtering, for robustness)."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("unsupported PNG flavor (need 8-bit RGB)")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w * 3
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], dtype=np.uint8
        ).copy()
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev).astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need sequential pass
            cur = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                a = int(cur[i - 3]) if i >= 3 else 0
                b = int(prev[i])
                c = int(prev[i - 3]) if i >= 3 else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad filter {ftype}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, 3)


# --- deterministic lossy stub ("jpeg") -------------------------------------

def fake_jpeg_encode(pixels: np.ndarray) -> bytes:
    """STUB lossy codec: quantize channels to _JPEG_QUANT steps. Replace with
    a real JPEG encoder where libjpeg exists; the Spark-side plumbing
    (schema, batching, PSNR validation) is identical either way."""
    h, w, _ = pixels.shape
    q = (pixels.astype(np.int16) // _JPEG_QUANT).astype(np.uint8)
    payload = zlib.compress(q.tobytes(), 6)
    return _FAKE_JPEG_MAGIC + struct.pack(">II", w, h) + payload


def fake_jpeg_decode(data: bytes) -> np.ndarray:
    if data[:8] != _FAKE_JPEG_MAGIC:
        raise NotImplementedError(
            "real JPEG decode unavailable in this container (stub codec only)"
        )
    w, h = struct.unpack(">II", data[8:16])
    q = np.frombuffer(zlib.decompress(data[16:]), dtype=np.uint8).reshape(h, w, 3)
    # dequantize to bin centers (bounded error ≤ _JPEG_QUANT/2 per channel)
    return (
        q.astype(np.int16) * _JPEG_QUANT + _JPEG_QUANT // 2
    ).clip(0, 255).astype(np.uint8)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return png_decode(bytes(data))
    if fmt == "jpeg":
        b = bytes(data)
        if b[:2] == b"\xff\xd8":  # real baseline JFIF
            from ghcrawler_spark.functions.jpeg import jpeg_decode

            return jpeg_decode(b)
        return fake_jpeg_decode(b)  # legacy stub container
    raise NotImplementedError(f"unsupported image format: {fmt}")


# --- metrics ---------------------------------------------------------------

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return PSNR_INF
    return float(10.0 * np.log10(255.0**2 / mse))


def phash64(pixels: np.ndarray) -> int:
    """64-bit average-hash: grayscale → 8x8 block means → sign vs mean.
    Pure numpy; deterministic for any (h, w, 3) uint8 input."""
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            blocks[i, j] = gray[ys[i] : max(ys[i + 1], ys[i] + 1),
                                xs[j] : max(xs[j + 1], xs[j] + 1)].mean()
    bits = (blocks > blocks.mean()).flatten()
    val = 0
    for i, bit in enumerate(bits):
        if bit:
            val |= 1 << i
    # fold into signed int64 range (Spark LongType)
    return val - (1 << 64) if val >= (1 << 63) else val


# --- Spark pandas UDFs (Arrow-batched) -------------------------------------

@F.pandas_udf(LongType())
def phash_udf(data: pd.Series, fmt: pd.Series) -> pd.Series:
    out = np.empty(len(data), dtype=np.int64)
    for i, (blob, f) in enumerate(zip(data, fmt)):
        out[i] = phash64(decode_image(blob, f))
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def psnr_vs_reference_udf(data: pd.Series, fmt: pd.Series, ref: pd.Series, ref_fmt: pd.Series) -> pd.Series:
    out = np.empty(len(data), dtype=np.float64)
    for i, (blob, f, rblob, rf) in enumerate(zip(data, fmt, ref, ref_fmt)):
        out[i] = psnr(decode_image(blob, f), decode_image(rblob, rf))
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def decode_mean_udf(data: pd.Series, fmt: pd.Series) -> pd.Series:
    """Mean pixel value — a cheap 'feature extract' proving full decode."""
    out = np.empty(len(data), dtype=np.float64)
    for i, (blob, f) in enumerate(zip(data, fmt)):
        out[i] = float(decode_image(blob, f).mean())
    return pd.Series(out)


def resize_thumbnail_udf(target: int = 8):
    """Factory: pandas UDF that decodes, box-resizes to target×target, and
    re-encodes PNG — the multimodal 'transform' stage shape (decode →
    numpy transform → re-encode) used by real pipelines."""

    @F.pandas_udf(BinaryType())
    def _resize(data: pd.Series, fmt: pd.Series) -> pd.Series:
        out = []
        for blob, f in zip(data, fmt):
            px = decode_image(blob, f).astype(np.float64)
            h, w, _ = px.shape
            ys = (np.arange(target + 1) * h) // target
            xs = (np.arange(target + 1) * w) // target
            small = np.empty((target, target, 3))
            for i in range(target):
                for j in range(target):
                    small[i, j] = px[
                        ys[i] : max(ys[i + 1], ys[i] + 1),
                        xs[j] : max(xs[j + 1], xs[j] + 1),
                    ].mean(axis=(0, 1))
            out.append(png_encode(small.round().clip(0, 255).astype(np.uint8)))
        return pd.Series(out)

    return _resize


def validate_against_reference(
    fetched, reference, id_col: str = "image_id", min_psnr: float = 40.0
):
    """J8 validation join (BASELINE.json per-row invariant): inner equi-join
    fetched×reference on image_id; PSNR ≥ min_psnr AND caption equality.

    Returns the fetched frame + (psnr_db, caption_ok, valid) audit columns.
    """
    ref = reference.select(
        F.col(id_col),
        F.col("bytes").alias("_ref_bytes"),
        F.col("fmt").alias("_ref_fmt"),
        F.col("caption").alias("_ref_caption"),
    )
    joined = fetched.join(ref, id_col)
    return (
        joined.withColumn(
            "psnr_db",
            psnr_vs_reference_udf(
                F.col("bytes"), F.col("fmt"), F.col("_ref_bytes"), F.col("_ref_fmt")
            ),
        )
        .withColumn("caption_ok", F.col("caption") == F.col("_ref_caption"))
        .withColumn(
            "valid", (F.col("psnr_db") >= F.lit(min_psnr)) & F.col("caption_ok")
        )
        .drop("_ref_bytes", "_ref_fmt", "_ref_caption")
    )


def curation_gates(
    w: Column,
    h: Column,
    fmt: Column,
    caption: Column,
    *,
    min_side: int = 200,
    max_aspect: int = 3,
    fmt_allow: tuple[str, ...] = ("png", "jpeg"),
    min_tokens: int = 5,
    min_chars: int = 20,
    max_chars: int = 2048,
) -> dict[str, Column]:
    """LAION/DataComp-style image-corpus curation gates over the metadata
    columns of the input_hint image table (image_id, bytes, w, h, fmt,
    caption, phash): resolution floor, aspect-ratio band, format allow-list,
    caption token/length window (LAION-400M §3.1's filtering recipe).

    Pure Column expressions — the pixels never load. At 100 TB this is the
    cheap first cut that discards most rows before any decode job runs, so
    it must stay map-only with the (w, h, fmt) columns pruned straight off
    the parquet scan (pinned by tools/audit_plans.py). The aspect gate uses
    integer math (greatest <= max_aspect * least) so the predicate is exact
    across engines — no float division.

    Returns named gate Columns plus the conjunction ``kept``; callers alias
    and select (dict, not struct, so each gate lands as a top-level column).
    """
    from ghcrawler_spark.functions import text as _text

    n_tok = _text.token_count_ws(caption)
    res_ok = (w >= F.lit(min_side)) & (h >= F.lit(min_side))
    aspect_ok = F.greatest(w, h) <= F.lit(max_aspect) * F.least(w, h)
    fmt_ok = fmt.isin(*fmt_allow)
    caption_gate_ok = (n_tok >= F.lit(min_tokens)) & F.length(caption).between(
        min_chars, max_chars
    )
    return {
        "caption_tokens": n_tok.cast("long"),
        "res_ok": res_ok,
        "aspect_ok": aspect_ok,
        "fmt_ok": fmt_ok,
        "caption_gate_ok": caption_gate_ok,
        "kept": res_ok & aspect_ok & fmt_ok & caption_gate_ok,
    }
