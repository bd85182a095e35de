"""Acoustic fingerprint near-duplicate detection (energy-contour
hash + banded Hamming grouping).

The audio counterpart of ``operators/image_dedup.py``: training
corpora carry re-encoded / re-leveled copies of the same clip, and
the standard screen is a compact fingerprint over the energy
envelope (the Chromaprint/Shazam family reduced to its deterministic
core — adjacent-band energy *contrast signs*, here over time blocks
of the PCM stream rather than FFT bins, which keeps the whole hash
exact-integer and library-free).

Fingerprint: the flat PCM16 sample stream splits into 33 equal time
blocks; bit ``i`` of the 32-bit hash is set when block ``i``'s mean
absolute amplitude exceeds block ``i+1``'s — compared as exact
integer cross-products ``energy_i · len_{i+1} > energy_{i+1} ·
len_i``, so the hash is bit-deterministic and EXACTLY invariant
under positive amplitude scaling (a volume change multiplies every
energy by the same factor, which cancels from both sides — the
audio analogue of the image dHash's brightness invariance).

Spark-first shape: ONE ``mapInArrow`` pass parses the RIFF
container and hashes (numpy integer sums per Arrow batch); candidate
generation and verification reuse the modality-agnostic
:func:`~contessa_spark.operators.image_dedup.hamming_near_dups`
banding (pass ``hash_bits=32``) — the Hamming engine of text SimHash
and image dHash, one capped ``mapInArrow`` group pass after the
decode.

Reference parity: no counterpart in contessa (SURVEY.md §2 extension
— multimodal dedup family).
"""

from __future__ import annotations

import struct
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame

from contessa_spark.operators.image_dedup import hamming_near_dups

_N_BLOCKS = 33  # 32 adjacent-block comparisons → 32 bits


def wav_pcm16_samples(payload: bytes):
    """RIFF/WAVE chunk walk → flat int32 PCM16 sample array, or None
    for anything malformed / non-PCM16.  Same chunk conventions and
    truncation guards as ``multimodal.decode_wav_bytes`` (:1022-1086),
    but returns the sample stream instead of summary stats."""
    import numpy as np

    if payload is None or len(payload) < 12:
        return None
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + csz]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body)
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)
    if fmt is None or data is None:
        return None
    audio_format, _ch, _sr, _br, block_align, bits = fmt
    if audio_format != 1 or bits != 16 or not block_align:
        return None
    n = (len(data) // 2) * 2
    return np.frombuffer(data[:n], dtype="<i2").astype(np.int32)


def afp32_from_samples(samples) -> Optional[int]:
    """32-bit energy-contour fingerprint of a flat PCM sample array
    (any channel interleaving — the contour is over wall-clock
    blocks), or None when shorter than 33 samples.

    Block boundaries ``floor(i·N/33)``; bit ``i`` compares mean
    absolute amplitudes of blocks ``i`` and ``i+1`` as exact integer
    cross-products — never a float, hence scale-invariant and
    bit-stable on any engine."""
    import numpy as np

    x = np.abs(np.asarray(samples, dtype=np.int64))
    n = x.shape[0]
    if n < _N_BLOCKS:
        return None
    cs = np.concatenate(([0], np.cumsum(x)))
    bounds = [(i * n) // _N_BLOCKS for i in range(_N_BLOCKS + 1)]
    energy = np.array(
        [cs[bounds[i + 1]] - cs[bounds[i]] for i in range(_N_BLOCKS)],
        dtype=np.int64,
    )
    length = np.array(
        [bounds[i + 1] - bounds[i] for i in range(_N_BLOCKS)], dtype=np.int64
    )
    # energy ≤ 32768·N, length ≤ N: products stay < 2^63 for any
    # payload the WAV guards admit (N < 2^31 samples)
    bits = energy[:-1] * length[1:] > energy[1:] * length[:-1]
    val = 0
    for i in range(_N_BLOCKS - 1):
        if bits[i]:
            val |= 1 << i
    return val


def audio_afp(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """(id, afp) per clip — NULL for undecodable / too-short
    payloads.  One Arrow pass."""

    def hash_batches(batches):
        for b in batches:
            hashes = []
            for payload in b.column(1).to_pylist():
                s = wav_pcm16_samples(payload) if payload is not None else None
                hashes.append(afp32_from_samples(s) if s is not None else None)
            yield pa.RecordBatch.from_arrays(
                [b.column(0).cast(pa.int64()), pa.array(hashes, pa.int64())], names=[id_col, "afp"]
            )

    return df.select(id_col, payload_col).mapInArrow(hash_batches, schema=f"{id_col} long, afp long")


def audio_near_dups(
    hashes: DataFrame,
    max_hamming: int = 4,
    id_col: str = "media_id",
    hash_col: str = "afp",
    max_bucket: int = 10_000,
) -> DataFrame:
    """All clip pairs within ``max_hamming`` fingerprint bits →
    (id_a, id_b, hamming); the shared lossless-banding engine with
    bands over the populated 32 bits only."""
    return hamming_near_dups(
        hashes,
        max_hamming=max_hamming,
        id_col=id_col,
        hash_col=hash_col,
        max_bucket=max_bucket,
        hash_bits=32,
    )


def codeword_wav_bytes(
    codeword: int, scale: int = 1, samples_per_block: int = 8
) -> bytes:
    """Minimal mono PCM16 WAV whose :func:`afp32_from_samples`
    fingerprint is EXACTLY the low 32 bits of ``codeword``: block
    amplitudes start at 512 and step −8 (bit 1: left louder) or +8
    (bit 0) per comparison, each block alternating ±amplitude so the
    block energy is amplitude·len exactly; every sample is multiplied
    by ``scale`` (volume), which the fingerprint cancels.  Amplitudes
    stay in [256, 768]·scale — no PCM16 clipping for scale ≤ 42."""
    import numpy as np

    if not 1 <= scale <= 42:
        raise ValueError("codeword_wav_bytes: scale must be in [1, 42]")
    amps = [512]
    for i in range(_N_BLOCKS - 1):
        bit = (codeword >> i) & 1
        amps.append(amps[-1] - 8 if bit else amps[-1] + 8)
    sgn = np.tile(
        np.array([1, -1], dtype=np.int32), samples_per_block
    )[:samples_per_block]
    samples = np.concatenate(
        [a * scale * sgn for a in amps]
    ).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body
