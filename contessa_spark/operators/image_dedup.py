"""Perceptual image-hash near-duplicate detection (dHash + banded
Hamming grouping).

Web-scale training corpora dedup images the same way they dedup text:
a compact perceptual fingerprint per image, then candidate generation
by fingerprint locality, then exact verification.  This module
implements the difference-hash (dHash) family — 64-bit row-gradient
signs over an 8×9 block-mean downsample — and finds near-duplicates
with the Hamming engine text SimHash uses,
``dedup.hamming_band_pairs``: any two hashes within Hamming distance
``h`` agree exactly on at least one of ``h+1`` disjoint bands
(pigeonhole), so grouping by (band, key) finds every candidate pair,
and the xor/popcount verify inside each group's emission is exact.

Spark-first shape: ONE ``mapInArrow`` pass decodes and hashes
(binary payload crosses to Python once, numpy does the integer
arithmetic); the band keys are JVM shift/mask expressions, and one
capped ``mapInArrow`` group pass emits and verifies the pairs — no
join and nothing persisted.  Hot band buckets (flat images all
hashing alike) are capped at ``max_bucket``, the repo-wide guard
against quadratic blowup.

DETERMINISM: the hash is bit-deterministic by construction — block
means are never materialized as floats; the gradient sign compares
exact integer cross-products ``sum_l · area_r > sum_r · area_l``.
That also makes dHash exactly invariant under uniform brightness
shift (the offset term cancels from both sides), which the driver
query's oracle exploits.

Reference parity: no counterpart in contessa (SURVEY.md §2 extension
— multimodal dedup family).
"""

from __future__ import annotations

import struct
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame

from contessa_spark.operators.dedup import hamming_band_pairs

#: over this many images in one band bucket, the bucket is dropped
#: from pair generation (degenerate content — e.g. monochrome fills)
DEFAULT_MAX_BUCKET = 10_000

_GRID_ROWS = 8
_GRID_COLS = 9  # 8 adjacent-column comparisons per row → 64 bits


def bmp24_from_gray(gray) -> bytes:
    """Encode a 2-D uint8 grayscale array as a 24-bit BI_RGB BMP
    (r = g = b; bottom-up rows, 4-byte row padding) — the synthesis
    helper for tests and the driver query."""
    import numpy as np

    a = np.asarray(gray, dtype=np.uint8)
    h, w = a.shape
    stride = ((3 * w + 3) // 4) * 4
    off = 14 + 40
    size = off + stride * h
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
    rows = []
    pad = b"\x00" * (stride - 3 * w)
    for r in range(h - 1, -1, -1):  # bottom-up
        rows.append(np.repeat(a[r], 3).tobytes() + pad)
    return hdr + info + b"".join(rows)


def bmp24_gray_grid(payload: bytes):
    """Decode a 24-bit BI_RGB BMP to a top-down int32 grayscale grid
    (``(r+g+b) // 3``) or None if undecodable.  Same header fields and
    bomb guards as ``multimodal._decode_bmp`` (:179-226), but returns
    the full grid instead of a scalar mean."""
    import numpy as np

    from contessa_spark.operators.multimodal import MAX_PNG_RAW_BYTES

    if len(payload) < 34 or payload[:2] != b"BM":
        return None
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    if hdr_size < 20:
        return None
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    (off_bits,) = struct.unpack_from("<I", payload, 10)
    if w <= 0 or h == 0 or bpp != 24 or compression != 0:
        return None
    top_down = h < 0
    n_rows = abs(int(h))
    stride = ((24 * int(w) + 31) // 32) * 4
    if off_bits + stride * n_rows > len(payload) or stride * n_rows > MAX_PNG_RAW_BYTES:
        return None
    buf = np.frombuffer(
        payload, dtype=np.uint8, count=stride * n_rows, offset=off_bits
    ).reshape(n_rows, stride)[:, : 3 * int(w)]
    rgb = buf.reshape(n_rows, int(w), 3).astype(np.int32)
    gray = rgb.sum(axis=2) // 3
    return gray if top_down else gray[::-1]


def dhash64_from_gray(gray) -> Optional[int]:
    """64-bit dHash of an integer grayscale grid, as a SIGNED int64
    (two's-complement wrap, matching Spark LongType).

    Blocks: row boundaries ``floor(i·H/8)``, column boundaries
    ``floor(j·W/9)``.  Bit ``r·8+c`` is set when block (r, c)'s mean
    exceeds block (r, c+1)'s — compared as exact integer
    cross-products, so no float ever enters the hash."""
    import numpy as np

    g = np.asarray(gray, dtype=np.int64)
    h, w = g.shape
    if h < _GRID_ROWS or w < _GRID_COLS:
        return None
    # 2-D prefix sums → exact block sums for arbitrary boundaries
    ps = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(g, axis=0, out=ps[1:, 1:])
    np.cumsum(ps[1:, 1:], axis=1, out=ps[1:, 1:])
    rb = [(i * h) // _GRID_ROWS for i in range(_GRID_ROWS + 1)]
    cb = [(j * w) // _GRID_COLS for j in range(_GRID_COLS + 1)]
    sums = np.empty((_GRID_ROWS, _GRID_COLS), dtype=np.int64)
    areas = np.empty((_GRID_ROWS, _GRID_COLS), dtype=np.int64)
    for r in range(_GRID_ROWS):
        for c in range(_GRID_COLS):
            r0, r1, c0, c1 = rb[r], rb[r + 1], cb[c], cb[c + 1]
            sums[r, c] = ps[r1, c1] - ps[r0, c1] - ps[r1, c0] + ps[r0, c0]
            areas[r, c] = (r1 - r0) * (c1 - c0)
    left_s, right_s = sums[:, :-1], sums[:, 1:]
    left_a, right_a = areas[:, :-1], areas[:, 1:]
    bits = (left_s * right_a) > (right_s * left_a)
    val = 0
    for r in range(_GRID_ROWS):
        for c in range(_GRID_COLS - 1):
            if bits[r, c]:
                val |= 1 << (r * 8 + c)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def image_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """(id, dhash) per image — NULL dhash for undecodable payloads.
    One Arrow pass; currently decodes the 24-bit BMP container (the
    fully-decoded format family; PNG/GIF grids plug in the same
    way)."""

    def hash_batches(batches):
        for b in batches:
            hashes = []
            for payload in b.column(1).to_pylist():
                g = bmp24_gray_grid(payload) if payload is not None else None
                hashes.append(dhash64_from_gray(g) if g is not None else None)
            yield pa.RecordBatch.from_arrays(
                [b.column(0).cast(pa.int64()), pa.array(hashes, pa.int64())], names=[id_col, "dhash"]
            )

    return df.select(id_col, payload_col).mapInArrow(hash_batches, schema=f"{id_col} long, dhash long")


def hamming_near_dups(
    hashes: DataFrame,
    max_hamming: int = 4,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_bucket: int = DEFAULT_MAX_BUCKET,
    hash_bits: int = 64,
) -> DataFrame:
    """All pairs with ``popcount(h_a XOR h_b) <= max_hamming`` →
    (id_a, id_b, hamming), id_a < id_b.  Modality-agnostic: any
    fingerprint that fits a long works (64-bit image dHash, 32-bit
    audio fingerprint — pass ``hash_bits`` so bands cover only the
    populated bits; a constant-zero high band would put EVERY row in
    one bucket and trip the cap).

    Lossless banding: ``max_hamming + 1`` disjoint bit bands of
    :func:`~contessa_spark.operators.dedup.hamming_band_pairs` — a pair
    within the threshold must match exactly on ≥1 band (pigeonhole).
    Band buckets larger than ``max_bucket`` are excluded from pair
    generation (degenerate fills would otherwise go quadratic)."""
    if max_hamming < 0 or max_hamming > 16:
        raise ValueError("hamming_near_dups: max_hamming must be in [0, 16]")
    if hash_bits < 1 or hash_bits > 64:
        raise ValueError("hamming_near_dups: hash_bits must be in [1, 64]")
    if hash_bits < max_hamming + 1:
        raise ValueError(
            "hamming_near_dups: need hash_bits >= max_hamming + 1 bands"
        )
    return hamming_band_pairs(
        hashes, id_col, hash_col, max_hamming, max_hamming + 1, hash_bits, max_bucket
    )


def image_near_dups(
    hashes: DataFrame,
    max_hamming: int = 4,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """:func:`hamming_near_dups` over full 64-bit image dHashes."""
    return hamming_near_dups(
        hashes,
        max_hamming=max_hamming,
        id_col=id_col,
        hash_col=hash_col,
        max_bucket=max_bucket,
        hash_bits=64,
    )


def codeword_image_gray(codeword: int, brightness: int = 0):
    """16×18 grayscale grid whose dHash is EXACTLY ``codeword``:
    each 2×2 pixel block is constant; along each block row the value
    steps −8 when the corresponding codeword bit is 1 (left > right)
    and +8 when 0.  Values stay in [64+b, 192+b] — no clipping for
    brightness ≤ 63, so the whole brightness family shares one
    hash."""
    import numpy as np

    if not 0 <= brightness <= 63:
        raise ValueError("codeword_image_gray: brightness must be in [0, 63]")
    blocks = np.empty((_GRID_ROWS, _GRID_COLS), dtype=np.int64)
    for r in range(_GRID_ROWS):
        v = 128
        blocks[r, 0] = v
        for c in range(_GRID_COLS - 1):
            bit = (codeword >> (r * 8 + c)) & 1
            v = v - 8 if bit else v + 8
            blocks[r, c + 1] = v
    grid = np.repeat(np.repeat(blocks, 2, axis=0), 2, axis=1) + brightness
    return grid.astype(np.uint8)
