"""VP8L (WebP lossless) decoder: exact round-trips against the system
libwebp ENCODER (every real encoder path — transforms, LZ77, color
cache, meta codes), hand-packed streams for feature isolation, and the
plane-code table re-derivation.

libwebp is the test ORACLE only (ctypes, skipped when absent); the
decoder under test is pure python."""

import ctypes
import os
import random
import struct
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _libwebp():
    for name in ("libwebp.so.7", "libwebp.so", "libwebp.7.dylib", "libwebp.dylib"):
        try:
            lib = ctypes.CDLL(name)
            lib.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
            lib.WebPEncodeLosslessRGBA.argtypes = [
                ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
            ]
            return lib
        except OSError:
            continue
    return None


_LIB = _libwebp()
needs_libwebp = pytest.mark.skipif(_LIB is None, reason="libwebp not installed")


def encode_lossless(pixels_argb, w, h) -> bytes:
    """ARGB ints → WebP lossless file bytes via libwebp."""
    rgba = bytearray()
    for v in pixels_argb:
        rgba += bytes(((v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF, (v >> 24) & 0xFF))
    out = ctypes.POINTER(ctypes.c_uint8)()
    size = _LIB.WebPEncodeLosslessRGBA(
        bytes(rgba), w, h, 4 * w, ctypes.byref(out)
    )
    assert size > 0, "libwebp encode failed"
    data = ctypes.string_at(out, size)
    _LIB.WebPFree(out)
    return data


def decode_rgba(webp_file: bytes):
    """libwebp's own decode → (w, h, ARGB ints) — the ground truth."""
    w = ctypes.c_int()
    h = ctypes.c_int()
    _LIB.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    buf = _LIB.WebPDecodeRGBA(
        webp_file, ctypes.c_size_t(len(webp_file)),
        ctypes.byref(w), ctypes.byref(h),
    )
    assert buf, "libwebp decode failed"
    raw = ctypes.string_at(buf, w.value * h.value * 4)
    _LIB.WebPFree(buf)
    pix = [
        (raw[i + 3] << 24) | (raw[i] << 16) | (raw[i + 1] << 8) | raw[i + 2]
        for i in range(0, len(raw), 4)
    ]
    return w.value, h.value, pix


def vp8l_chunk(webp_file: bytes) -> bytes:
    assert webp_file[:4] == b"RIFF" and webp_file[8:12] == b"WEBP"
    pos = 12
    while pos + 8 <= len(webp_file):
        cid = webp_file[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", webp_file, pos + 4)
        if cid == b"VP8L":
            return webp_file[pos + 8 : pos + 8 + csz]
        pos += 8 + csz + (csz & 1)
    raise AssertionError("no VP8L chunk (encoder produced lossy?)")


def _images():
    rnd = random.Random(42)
    imgs = []
    # constant color (simple codes), tiny dims
    imgs.append(("const-1x1", 1, 1, [0xFF336699]))
    imgs.append(("const-7x3", 7, 3, [0x80FF0000] * 21))
    # small palette → color-indexing with sub-byte bundling
    pal = [0xFF000000, 0xFFFFFFFF, 0xFF10A0F0]
    imgs.append(
        ("palette3-13x5", 13, 5, [pal[rnd.randrange(3)] for _ in range(65)])
    )
    pal17 = [0xFF000000 | (i * 15 << 16 | i * 9 << 8 | i * 5) for i in range(17)]
    imgs.append(
        ("palette17-9x9", 9, 9, [pal17[rnd.randrange(17)] for _ in range(81)])
    )
    # smooth gradient → predictor transform territory
    imgs.append(
        (
            "gradient-33x17",
            33,
            17,
            [
                0xFF000000 | ((x * 7) & 0xFF) << 16 | ((y * 11) & 0xFF) << 8
                | ((x + y) & 0xFF)
                for y in range(17)
                for x in range(33)
            ],
        )
    )
    # repeated tiles → LZ77 references
    tile = [0xFF000000 | rnd.randrange(1 << 24) for _ in range(8)]
    imgs.append(
        ("tiled-40x10", 40, 10, [tile[x % 8] for _ in range(10) for x in range(40)])
    )
    # full-random noise with alpha → worst case for every code path
    imgs.append(
        ("noise-31x14", 31, 14, [rnd.randrange(1 << 32) for _ in range(31 * 14)])
    )
    # few distinct colors repeated → color cache
    colors = [rnd.randrange(1 << 32) | 0xFF000000 for _ in range(20)]
    imgs.append(
        ("cache-50x20", 50, 20, [colors[rnd.randrange(20)] for _ in range(1000)])
    )
    # wide image (one pixel tall): pure left-prediction / LZ77 line
    imgs.append(
        ("wide-200x1", 200, 1, [0xFF000000 | (i & 0xFF) << 8 for i in range(200)])
    )
    return imgs


@needs_libwebp
@pytest.mark.parametrize("name,w,h,pix", _images(), ids=[i[0] for i in _images()])
def test_roundtrip_vs_libwebp_encoder(name, w, h, pix):
    """libwebp-encoded lossless bitstreams decode to bit-identical
    ARGB — across palettes, gradients, tiling, noise and caches.
    Ground truth is libwebp's OWN decode (the encoder zeroes RGB under
    fully transparent alpha — exact mode off — so the original is only
    the oracle where alpha is opaque); for opaque images both must
    agree with the original."""
    from contessa_spark.operators.vp8l import decode_vp8l

    webp = encode_lossless(pix, w, h)
    gw, gh, got = decode_vp8l(vp8l_chunk(webp))
    assert (gw, gh) == (w, h)
    rw, rh, ref = decode_rgba(webp)
    assert (rw, rh) == (w, h)
    assert got == ref, name
    if all(v >> 24 == 0xFF for v in pix):
        assert got == pix, name  # lossless round-trip vs the source


@needs_libwebp
def test_fuzz_roundtrip_larger_images():
    """Bigger, structured-noise images push the encoder into meta
    prefix codes (multiple code groups) and long LZ77 chains; 20
    random images, all must match libwebp's decode exactly."""
    from contessa_spark.operators.vp8l import decode_vp8l

    rnd = random.Random(1234)
    for trial in range(20):
        w = rnd.randint(1, 160)
        h = rnd.randint(1, 90)
        style = trial % 4
        pix = []
        for y in range(h):
            for x in range(w):
                if style == 0:      # photo-ish smooth + noise
                    v = 0xFF000000 | (
                        ((x * 3 + rnd.randint(0, 8)) & 0xFF) << 16
                        | ((y * 5 + rnd.randint(0, 8)) & 0xFF) << 8
                        | ((x + y) & 0xFF)
                    )
                elif style == 1:    # hard noise with alpha
                    v = rnd.randrange(1 << 32) | 0xFF000000
                elif style == 2:    # banded palette
                    v = [0xFF112233, 0xFFAABBCC, 0xFF445566][
                        (x // 4 + y // 3) % 3
                    ]
                else:               # repeated rows (vertical LZ77)
                    v = 0xFF000000 | ((x * 37) & 0xFF) << 8
                pix.append(v)
        webp = encode_lossless(pix, w, h)
        gw, gh, got = decode_vp8l(vp8l_chunk(webp))
        _, _, ref = decode_rgba(webp)
        assert (gw, gh) == (w, h) and got == ref, (trial, style, w, h)


@needs_libwebp
def test_meta_prefix_path_exercised():
    """At least one crafted image must actually take the meta-huffman
    (multiple code group) branch — guard against the fuzz silently
    never covering it."""
    import contessa_spark.operators.vp8l as V

    rnd = random.Random(9)
    w, h = 256, 128
    # half smooth / half noise: encoders segment this into different
    # entropy groups
    pix = []
    for y in range(h):
        for x in range(w):
            if x < w // 2:
                pix.append(0xFF000000 | ((x & 0xFF) << 16) | ((y & 0xFF) << 8))
            else:
                pix.append(rnd.randrange(1 << 24) | 0xFF000000)
    webp = encode_lossless(pix, w, h)
    body = vp8l_chunk(webp)

    took_meta = {"n": 0}
    orig = V._decode_image_stream

    def spy(br, ww, hh, level0):
        if not level0:
            took_meta["n"] += 1
        return orig(br, ww, hh, level0)

    V._decode_image_stream = spy
    try:
        gw, gh, got = V.decode_vp8l(body)
    finally:
        V._decode_image_stream = orig
    _, _, ref = decode_rgba(webp)
    assert got == ref and (gw, gh) == (w, h)
    assert took_meta["n"] >= 1, "stream had no sub-images (no meta/transform)"


@needs_libwebp
def test_webp_pixel_mean_end_to_end():
    from contessa_spark.operators.multimodal import decode_image_bytes

    pix = [0xFF000000 | (v << 16 | v << 8 | v) for v in (10, 20, 250, 0)]
    payload = encode_lossless(pix, 2, 2)
    got = decode_image_bytes(payload)
    assert (got["width"], got["height"], got["ok"]) == (2, 2, True)
    assert got["mean_byte"] == (10 + 20 + 250 + 0) // 4


@needs_libwebp
def test_plane_code_table_matches_libwebp_binary():
    """The hard-coded 120-entry distance table must equal libwebp's
    kCodeToPlane (located in the shared object by its spec-defined
    prefix)."""
    from contessa_spark.operators.vp8l import _CODE_TO_PLANE

    path = None
    for cand in (
        "/usr/lib/x86_64-linux-gnu/libwebp.so.7.1.5",
        "/usr/lib/x86_64-linux-gnu/libwebp.so.7",
    ):
        if os.path.exists(cand):
            path = os.path.realpath(cand)
            break
    if path is None:
        pytest.skip("libwebp shared object not found on disk")
    blob = open(path, "rb").read()
    i = blob.find(bytes([0x18, 0x07, 0x17, 0x19, 0x28, 0x06]))
    assert i >= 0, "kCodeToPlane prefix not found"
    assert blob[i : i + 120] == _CODE_TO_PLANE


class _Bw:
    """LSB-first bit writer for hand-packed streams."""

    def __init__(self):
        self.bits = []

    def put(self, v, n):
        for i in range(n):
            self.bits.append((v >> i) & 1)
        return self

    def bytes(self):
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


def _simple1(bw, sym):
    """Write a 1-symbol simple prefix code."""
    bw.put(1, 1)        # simple
    bw.put(0, 1)        # num_symbols - 1 = 0
    if sym < 2:
        bw.put(0, 1).put(sym, 1)
    else:
        bw.put(1, 1).put(sym, 8)


def _const_stream(w, h):
    """VP8L body of a w x h image with no transforms, no cache, no meta
    and all five codes single-symbol: every pixel 0xFF134299, zero
    data bits per pixel."""
    bw = _Bw()
    bw.put(0x2F, 8)
    bw.put(w - 1, 14).put(h - 1, 14)
    bw.put(0, 1).put(0, 3)     # alpha hint, version
    bw.put(0, 1)               # no transforms
    bw.put(0, 1)               # no color cache
    bw.put(0, 1)               # no meta prefix codes
    _simple1(bw, 0x42)         # green
    _simple1(bw, 0x13)         # red
    _simple1(bw, 0x99)         # blue
    _simple1(bw, 0xFF)         # alpha
    _simple1(bw, 0)            # distance (unused)
    return bw.bytes()


def test_hand_packed_literal_stream():
    """Minimal hand-built stream: no transforms, no cache, no meta,
    all five codes single-symbol → every pixel identical, ZERO data
    bits per pixel."""
    from contessa_spark.operators.vp8l import decode_vp8l

    w, h, pix = decode_vp8l(_const_stream(5, 3))
    assert (w, h) == (5, 3)
    assert pix == [0xFF134299] * 15


def test_webp_past_pixel_budget_is_dims_only():
    """Past ``vp8l.MAX_PIXELS`` (1M) a lossless WebP yields its dims
    only: ``mean_byte`` NULL, ``ok`` true. The stream is a valid
    constant image (its small form decodes to a mean), so a decode
    that ignored the budget would report a mean, not NULL."""
    from contessa_spark.operators.multimodal import decode_image_bytes
    from contessa_spark.operators.vp8l import MAX_PIXELS

    def webp(w, h):
        body = _const_stream(w, h)
        chunk = b"VP8L" + struct.pack("<I", len(body)) + body + b"\0" * (len(body) & 1)
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    small = decode_image_bytes(webp(5, 3))
    assert (small["width"], small["height"], small["ok"]) == (5, 3, True)
    assert small["mean_byte"] == (0x13 + 0x42 + 0x99) // 3
    assert 1025 * 1024 > MAX_PIXELS == 1 << 20
    got = decode_image_bytes(webp(1025, 1024))
    assert (got["width"], got["height"], got["ok"]) == (1025, 1024, True)
    assert got["mean_byte"] is None


def test_hand_packed_two_symbol_and_subtract_green():
    """2-symbol simple codes (first-read symbol takes code 0 — NOT
    canonical order: symbols deliberately descending) + the
    subtract-green inverse."""
    from contessa_spark.operators.vp8l import decode_vp8l

    bw = _Bw()
    bw.put(0x2F, 8)
    bw.put(3, 14).put(0, 14)   # 4 x 1
    bw.put(0, 1).put(0, 3)
    bw.put(1, 1).put(2, 2)     # transform: SUBTRACT_GREEN
    bw.put(0, 1)               # no more transforms
    bw.put(0, 1)               # no cache
    bw.put(0, 1)               # no meta
    # green: simple 2-symbol, symbols 200 then 100 (code 0 -> 200)
    bw.put(1, 1).put(1, 1).put(1, 1).put(200, 8).put(100, 8)
    _simple1(bw, 7)            # red residual
    _simple1(bw, 9)            # blue residual
    _simple1(bw, 0xFF)         # alpha
    _simple1(bw, 0)            # distance
    # pixel greens: codes 0,1,1,0 -> 200,100,100,200
    bw.put(0, 1).put(1, 1).put(1, 1).put(0, 1)
    w, h, pix = decode_vp8l(bw.bytes())
    assert (w, h) == (4, 1)
    want = []
    for g in (200, 100, 100, 200):
        want.append(
            0xFF000000 | (((7 + g) & 0xFF) << 16) | (g << 8) | ((9 + g) & 0xFF)
        )
    assert pix == want


def test_hand_packed_lz77_explicit_distance():
    """LZ77 with explicit distance: literal then a length-2 copy at
    distance 1 (code 121) — green uses a normal prefix code since
    length symbols exceed the simple-code 8-bit limit."""
    from contessa_spark.operators.vp8l import decode_vp8l

    bw = _Bw()
    bw.put(0x2F, 8)
    bw.put(2, 14).put(0, 14)   # 3 x 1
    bw.put(0, 1).put(0, 3)
    bw.put(0, 1).put(0, 1).put(0, 1)
    # green normal code over {50, 257}: 257 = length code 1 (len 2)
    bw.put(0, 1)
    bw.put(1, 4)               # 5 code lengths: [17,18,0,1,2]
    bw.put(1, 3).put(0, 3).put(0, 3).put(1, 3).put(0, 3)
    # max-symbol cap: exactly 28 CL decodes (5 runs + 1 + 21 runs + 1)
    # or the reader would keep consuming symbols up to the 280-slot
    # alphabet and eat the red code's bits
    bw.put(1, 1)               # cap present
    bw.put(3, 3)               # length_nbits = 2 + 2*3 = 8
    bw.put(26, 8)              # max_symbol = 2 + 26 = 28
    # lengths: 50 zeros, len1@50, 206 zeros, len1@257
    def run17(bw, n):
        while n:
            take = 10 if n >= 10 else n
            if take < 3:
                take = 3 if n == 3 else None
            assert take and 3 <= take <= 10
            bw.put(1, 1).put(take - 3, 3)
            n -= take

    run17(bw, 50)
    bw.put(0, 1)               # symbol length 1 at 50
    run17(bw, 206)
    bw.put(0, 1)               # symbol length 1 at 257
    _simple1(bw, 11)           # red
    _simple1(bw, 22)           # blue
    _simple1(bw, 0xFF)         # alpha
    # distance code symbol: single 13 -> offset 96, 5 extra bits;
    # value = 96 + bits + 1 = 121 -> distance = 121-120 = 1
    _simple1(bw, 13)
    # data: green '0' (literal 50: canonical code 0 -> symbol 50),
    # then green '1' (symbol 257 -> length code 1 -> length 2),
    # then distance extra bits 24 (5 bits)
    bw.put(0, 1)               # literal
    bw.put(1, 1)               # length symbol
    bw.put(24, 5)              # distance extra: 96+24+1 = 121
    w, h, pix = decode_vp8l(bw.bytes())
    assert (w, h) == (3, 1)
    assert pix == [0xFF0B3216] * 3  # a=ff r=11 g=50 b=22, copied twice


def test_malformed_streams_raise():
    from contessa_spark.operators.vp8l import Vp8lError, decode_vp8l

    with pytest.raises(Vp8lError):
        decode_vp8l(b"\x00\x00\x00\x00")   # bad signature
    with pytest.raises(Vp8lError):
        decode_vp8l(b"\x2f\x01")           # truncated header
    # bomb guard: huge dims -> pixels None, no decode attempt
    bw = _Bw()
    bw.put(0x2F, 8).put(16382, 14).put(16382, 14).put(0, 1).put(0, 3)
    w, h, pix = decode_vp8l(bw.bytes())
    assert (w, h) == (16383, 16383) and pix is None
