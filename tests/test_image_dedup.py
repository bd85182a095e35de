"""Perceptual image-hash dedup: encode/decode/hash round-trip,
exact-integer brightness invariance, lossless banding vs a naive
O(n²) popcount oracle, bucket cap, partition invariance. Driver-level
oracle parity runs in tests/test_oracle_parity.py (media_image_dups)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _naive_pairs(hashes, max_hamming):
    out = set()
    items = sorted(hashes.items())
    for i, (ida, ha) in enumerate(items):
        for idb, hb in items[i + 1 :]:
            d = bin((ha ^ hb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= max_hamming:
                out.add((ida, idb, d))
    return out


def test_dhash_codeword_roundtrip_and_brightness():
    import numpy as np

    from contessa_spark.hashing import splitmix64
    from contessa_spark.operators.image_dedup import (
        bmp24_from_gray,
        bmp24_gray_grid,
        codeword_image_gray,
        dhash64_from_gray,
    )

    for g in (0, 3, 11, 49):
        cw = splitmix64(g)
        signed = cw - (1 << 64) if cw >= 1 << 63 else cw
        for b in (0, 17, 63):
            img = codeword_image_gray(cw, b)
            grid = bmp24_gray_grid(bmp24_from_gray(img))
            assert grid is not None and (grid == img).all()
            assert dhash64_from_gray(grid) == signed
    # arbitrary odd-dimension image: exact brightness invariance
    rng = np.random.RandomState(7)
    img = rng.randint(30, 190, size=(23, 31))
    assert dhash64_from_gray(img) == dhash64_from_gray(img + 40)
    # too small to hash
    assert dhash64_from_gray(np.zeros((4, 4), dtype=np.int64)) is None


def test_image_dhash_spark_and_null_payloads(spark):
    from contessa_spark.hashing import splitmix64
    from contessa_spark.operators.image_dedup import (
        bmp24_from_gray,
        codeword_image_gray,
        image_dhash,
    )

    rows = []
    want = {}
    for i in range(6):
        cw = splitmix64(i % 3)
        rows.append((i, bytearray(bmp24_from_gray(codeword_image_gray(cw, i)))))
        want[i] = cw - (1 << 64) if cw >= 1 << 63 else cw
    rows.append((99, bytearray(b"not an image")))
    want[99] = None
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert got == want


def test_image_near_dups_matches_naive_popcount(spark):
    from contessa_spark.hashing import splitmix64
    from contessa_spark.operators.image_dedup import image_near_dups

    # planted perturbations: per base codeword, variants at Hamming
    # 0..6 — threshold 4 must keep exactly distances ≤ 4
    hashes = {}
    nid = 0
    for base in range(5):
        cw = splitmix64(base * 1000)
        for k in (0, 0, 1, 2, 3, 4, 5, 6):
            h = cw
            for bit in range(k):
                h ^= 1 << ((7 * base + 13 * bit) % 64)
            hashes[nid] = h - (1 << 64) if h >= 1 << 63 else h
            nid += 1
    df = spark.createDataFrame(
        list(hashes.items()), "media_id long, dhash long"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in image_near_dups(df, max_hamming=4).collect()
    }
    want = _naive_pairs(hashes, 4)
    assert got == want
    assert want, "test must plant at least one pair"
    # partition invariance
    got2 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in image_near_dups(df.repartition(7), max_hamming=4).collect()
    }
    assert got2 == want


def test_image_near_dups_bucket_cap_and_validation(spark):
    from contessa_spark.operators.image_dedup import image_near_dups

    # 30 identical hashes: every band bucket holds all 30 → cap 10
    # drops them all, no pairs
    df = spark.createDataFrame(
        [(i, 0x1234) for i in range(30)], "media_id long, dhash long"
    )
    assert image_near_dups(df, max_hamming=2, max_bucket=10).collect() == []
    assert (
        len(image_near_dups(df, max_hamming=2, max_bucket=100).collect())
        == 30 * 29 // 2
    )
    with pytest.raises(ValueError):
        image_near_dups(df, max_hamming=17)


def _sweep_rows(seed, bits):
    """402 seeded fingerprint rows: a hot cluster of 20–79 identical
    hashes (trips the small caps), 12 base codewords with 0–8 flipped
    bits each, and two NULL hashes (which must not pair)."""
    import random

    rng = random.Random(seed)
    bases = [rng.getrandbits(bits) for _ in range(12)]
    hot, n_hot = rng.getrandbits(bits), rng.randrange(20, 80)
    rows = []
    for i in range(400):
        h = hot
        if i >= n_hot:
            h = rng.choice(bases)
            for _ in range(rng.randrange(0, 9)):
                h ^= 1 << rng.randrange(bits)
        rows.append((i, h - (1 << 64) if h >= 1 << 63 else h))
    rows += [(400, None), (401, None)]
    rng.shuffle(rows)
    return rows


def _capped_band_pairs(rows, max_hamming, bits, cap):
    """Reference model of capped pigeonhole banding: ``max_hamming + 1``
    bands of ``bits // bands`` bits (the last takes the slack); pairs
    that share a bucket of 2..``cap`` rows and lie within
    ``max_hamming`` bits."""
    n_bands = max_hamming + 1
    width = bits // n_bands
    hashes = {i: h & ((1 << 64) - 1) for i, h in rows if h is not None}
    out = set()
    for b in range(n_bands):
        w = width if b < n_bands - 1 else bits - b * width
        buckets = {}
        for i, h in hashes.items():
            buckets.setdefault((h >> (b * width)) & ((1 << w) - 1), []).append(i)
        for ids in buckets.values():
            if len(ids) > cap:
                continue
            ids.sort()
            for x, ia in enumerate(ids):
                for ib in ids[x + 1 :]:
                    d = bin(hashes[ia] ^ hashes[ib]).count("1")
                    if d <= max_hamming:
                        out.add((ia, ib, d))
    return out


@pytest.mark.parametrize(
    "modality,max_hamming,cap",
    [
        ("image", 4, 10_000),
        ("image", 2, 30),
        ("image", 3, 20),
        ("image", 0, 10_000),
        ("audio", 4, 10_000),
        ("audio", 2, 25),
    ],
)
def test_media_near_dups_match_capped_band_model(spark, modality, max_hamming, cap):
    """Image and audio near-dups equal the capped-banding model on
    seeded inputs, including a NULL hash, 64-bit one-band banding
    (k=0) and caps that drop hot buckets."""
    from contessa_spark.operators.audio_dedup import audio_near_dups
    from contessa_spark.operators.image_dedup import image_near_dups

    fn, col, bits = {
        "image": (image_near_dups, "dhash", 64),
        "audio": (audio_near_dups, "afp", 32),
    }[modality]
    dropped = False
    for seed in (2, 3):
        rows = _sweep_rows(seed, bits)
        df = spark.createDataFrame(rows, f"media_id long, {col} long")
        got = fn(df, max_hamming=max_hamming, max_bucket=cap).collect()
        want = _capped_band_pairs(rows, max_hamming, bits, cap)
        assert len(got) == len(want)
        assert {tuple(r) for r in got} == want
        dropped |= want != _capped_band_pairs(rows, max_hamming, bits, 10_000)
    assert dropped == (cap < 10_000)


def test_driver_codeword_separation():
    """Guards the media_image_dups oracle construction: the 50 planted
    group codewords must sit further apart than the query threshold
    (4) by a wide margin, so cross-group pairs can never appear."""
    from contessa_spark.hashing import splitmix64

    cw = [splitmix64(g) for g in range(50)]
    mn = min(
        bin(a ^ b).count("1")
        for i, a in enumerate(cw)
        for b in cw[i + 1 :]
    )
    assert mn > 8, mn


from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_bmp_grid_fuzz_never_crashes(payload):
    """Arbitrary bytes (including BM-prefixed garbage) must decode to
    None or a valid grid — never raise (containment, like the
    multimodal corrupt-blob tests)."""
    from contessa_spark.operators.image_dedup import (
        bmp24_gray_grid,
        dhash64_from_gray,
    )

    for blob in (payload, b"BM" + payload):
        g = bmp24_gray_grid(blob)
        if g is not None:
            h = dhash64_from_gray(g)
            assert h is None or -(1 << 63) <= h < (1 << 63)
