"""Acoustic fingerprint dedup: WAV round-trip, exact volume-scale
invariance, 32-bit banding vs naive popcount, malformed payloads.
Driver-level oracle parity runs in tests/test_oracle_parity.py
(media_audio_dups)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_afp_codeword_roundtrip_and_volume_invariance():
    import numpy as np

    from contessa_spark.operators.audio_dedup import (
        afp32_from_samples,
        codeword_wav_bytes,
        wav_pcm16_samples,
    )
    from contessa_spark.hashing import splitmix64

    for g in (0, 5, 23, 39):
        cw = splitmix64(g) & 0xFFFFFFFF
        hashes = set()
        for scale in (1, 2, 7, 42):
            s = wav_pcm16_samples(codeword_wav_bytes(cw, scale=scale))
            hashes.add(afp32_from_samples(s))
        assert hashes == {cw}
    # arbitrary waveform: exact scale invariance + length handling
    rng = np.random.RandomState(11)
    x = rng.randint(-900, 900, size=271)
    assert afp32_from_samples(x) == afp32_from_samples(x * 31)
    assert afp32_from_samples(x[:32]) is None  # < 33 samples
    with pytest.raises(ValueError):
        codeword_wav_bytes(1, scale=0)


def test_wav_pcm16_samples_guards():
    from contessa_spark.operators.audio_dedup import wav_pcm16_samples

    assert wav_pcm16_samples(b"") is None
    assert wav_pcm16_samples(b"RIFFxxxxNOPE") is None
    assert wav_pcm16_samples(b"not audio at all, truly") is None


def test_audio_near_dups_matches_naive(spark):
    from contessa_spark.operators.audio_dedup import audio_near_dups
    from contessa_spark.hashing import splitmix64

    hashes = {}
    nid = 0
    for base in range(4):
        cw = splitmix64(base * 77) & 0xFFFFFFFF
        for k in (0, 0, 1, 3, 5, 6):
            h = cw
            for bit in range(k):
                h ^= 1 << ((11 * base + 5 * bit) % 32)
            hashes[nid] = h
            nid += 1
    df = spark.createDataFrame(
        list(hashes.items()), "media_id long, afp long"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in audio_near_dups(df, max_hamming=4).collect()
    }
    want = set()
    items = sorted(hashes.items())
    for i, (ida, ha) in enumerate(items):
        for idb, hb in items[i + 1 :]:
            d = bin(ha ^ hb).count("1")
            if d <= 4:
                want.add((ida, idb, d))
    assert got == want and want


def test_audio_spark_end_to_end(spark):
    from contessa_spark.operators.audio_dedup import (
        audio_afp,
        audio_near_dups,
        codeword_wav_bytes,
    )
    from contessa_spark.hashing import splitmix64

    rows = [
        (
            i,
            bytearray(
                codeword_wav_bytes(
                    splitmix64(i % 3) & 0xFFFFFFFF, scale=1 + i // 3
                )
            ),
        )
        for i in range(9)
    ]
    rows.append((99, bytearray(b"RIFFbad.WAVE")))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    fp = audio_afp(df)
    got = {r["media_id"]: r["afp"] for r in fp.collect()}
    assert got[99] is None
    assert len({v for k, v in got.items() if k != 99}) == 3
    pairs = audio_near_dups(fp, max_hamming=4).collect()
    # 3 families of 3 → 3 within-family pairs each, all hamming 0
    assert len(pairs) == 9
    assert all(r["hamming"] == 0 for r in pairs)


def test_audio_codeword_separation():
    """Guards the media_audio_dups oracle: 40 planted 32-bit codewords
    must sit clear of the query threshold (4)."""
    from contessa_spark.hashing import splitmix64

    cw = [splitmix64(g) & 0xFFFFFFFF for g in range(40)]
    mn = min(
        bin(a ^ b).count("1") for i, a in enumerate(cw) for b in cw[i + 1 :]
    )
    assert mn > 6, mn


from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_wav_samples_fuzz_never_crashes(payload):
    """Arbitrary bytes (including RIFF-prefixed garbage) must decode
    to None or a valid sample array — never raise."""
    from contessa_spark.operators.audio_dedup import (
        afp32_from_samples,
        wav_pcm16_samples,
    )

    s = wav_pcm16_samples(payload)
    if s is not None:
        h = afp32_from_samples(s)
        assert h is None or 0 <= h < (1 << 32)


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_wav_samples_fuzz_riff_prefixed(payload):
    from contessa_spark.operators.audio_dedup import wav_pcm16_samples

    wav_pcm16_samples(b"RIFF\x10\x00\x00\x00WAVE" + payload)
