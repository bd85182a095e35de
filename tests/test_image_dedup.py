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
