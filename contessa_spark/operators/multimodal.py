"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark side — schema, partitioning, Arrow batch shape, UDF
signatures — is real and tested, and so are the dependency-free
public-spec decoders: PNG (full scanline unfilter + pixel stats),
JPEG (SOFn dims), WAV (RIFF chunk walk + PCM16 sample stats), MP4
(ISO-BMFF box walk: mvhd duration, tkhd dims). Pixel/sample-level
work for compressed video and JPEG entropy data is the one remaining
stub (no image/av libraries ship in this container) — swapping in
Pillow/libav happens inside one function body; the distributed
plumbing does not change.

Batch-shape rule: media blobs are large, so all decode/feature passes
run via ``mapInArrow`` over (media_id, payload) — each blob crosses to
Python once as a ``bytes`` cell of an Arrow batch, and only the narrow
typed result crosses back — with a capped Arrow batch size (set
``spark.sql.execution.arrow.maxRecordsPerBatch`` ≈ 64 for multi-MB
blobs), and rows should be bucketed by content hash so one partition
never holds all the hot items.
"""

from __future__ import annotations

import struct

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

_MAGIC = b"FAKEIMG1"
_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"

#: decompression-bomb guard: a 100-byte PNG can declare gigapixel IHDR
#: dims whose inflation would OOM a worker; pixel stats are skipped
#: (dims still reported) when the raw scanline buffer would exceed this
MAX_PNG_RAW_BYTES = 64 * 1024 * 1024

# SOF0..SOF15 minus DHT(C4)/JPG(C8)/DAC(CC) — every frame-header marker
# that carries (precision, height, width) per ITU-T T.81 §B.2.2
_JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}


def _gif_lzw_decode(data: bytes, min_code_size: int, max_pixels: int):
    """GIF-variant LZW (GIF89a spec appendix F): variable-width codes
    packed LSB-first, CLEAR = 2^min, END = CLEAR+1, dictionary grows to
    12 bits then freezes until the next CLEAR. Returns the index
    stream, or None on malformed input / ``max_pixels`` overrun."""
    if not 2 <= min_code_size <= 11:
        return None
    clear = 1 << min_code_size
    end = clear + 1
    # dict entries as (prefix_code, first_byte, last_byte) chains would
    # save memory; output is bounded by max_pixels so full sequences
    # (python bytes) keep the inner loop simple
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    acc = nbits = 0
    prev = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]   # the KwKwK case
                table.append(entry)
            else:
                return None
            out += entry
            if len(out) > max_pixels:
                return None
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return bytes(out)   # tolerated: stream ended without END code


def _decode_gif(payload: bytes) -> dict:
    """GIF87a/89a: logical-screen dims from the header, and REAL pixel
    statistics for the first image frame — the full LZW index-stream
    decode (``_gif_lzw_decode``) mapped through the applicable (local
    over global) color table; ``mean_byte`` is the integer-floor mean
    over the frame's RGB bytes, the same convention as the PNG/BMP/
    JPEG paths. The pixel SET is order-independent, so interlaced
    frames need no row reshuffling for statistics. Any pixel-path
    irregularity (missing color table, out-of-range index, truncated
    or oversized stream) degrades to dims-only, never a failure."""
    import struct

    bad = {"width": None, "height": None, "mean_byte": None, "ok": False}
    if len(payload) < 10:
        return bad
    w, h = struct.unpack_from("<HH", payload, 6)
    out = {"width": int(w), "height": int(h), "mean_byte": None, "ok": True}
    if len(payload) < 14:
        return out
    try:
        packed, _bg, _ar = struct.unpack_from("<BBB", payload, 10)
        pos = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            gct = payload[pos : pos + 3 * n]
            pos += 3 * n
        # walk blocks to the first image descriptor
        while pos < len(payload) and payload[pos] == 0x21:  # extension
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        if pos >= len(payload) or payload[pos] != 0x2C:
            return out
        _l, _t, fw, fh, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
        pos += 10
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = payload[pos : pos + 3 * n]
            pos += 3 * n
        if not ct:
            return out
        n_pixels = int(fw) * int(fh)
        if n_pixels == 0 or n_pixels > MAX_PNG_RAW_BYTES // 3:
            return out
        min_code = payload[pos]
        pos += 1
        chunks = []
        while pos < len(payload) and payload[pos] != 0:
            ln = payload[pos]
            chunks.append(payload[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        idx = _gif_lzw_decode(b"".join(chunks), min_code, n_pixels)
        if idx is None or len(idx) < n_pixels:
            return out
        idx = idx[:n_pixels]            # defensive: some encoders over-emit
        # vectorized palette gather (the r6 per-pixel loop made a big
        # frame the slowest per-byte stage): per-entry RGB sums once,
        # then one uint8 gather + int64 sum — same integer total
        import numpy as np

        ia = np.frombuffer(idx, dtype=np.uint8)
        if int(ia.max()) * 3 + 2 >= len(ct):
            return out                  # index beyond the color table
        cta = np.frombuffer(ct, dtype=np.uint8)
        entry_sums = (
            cta[: (len(cta) // 3) * 3]
            .reshape(-1, 3)
            .sum(axis=1, dtype=np.int64)
        )
        total = int(entry_sums[ia].sum(dtype=np.int64))
        out["mean_byte"] = total // (3 * n_pixels)
    except (IndexError, struct.error):
        return out
    return out


def _decode_bmp(payload: bytes) -> dict:
    """BMP dims from the BITMAPINFOHEADER (int32 LE at offset 18/22;
    height may be negative for top-down rows — reported as magnitude).
    The legacy BITMAPCOREHEADER (size 12) uses uint16 fields.

    For 24-bit uncompressed (BI_RGB) payloads ``mean_byte`` is REAL:
    the pixel array starts at bfOffBits (uint32 LE at offset 10), rows
    are padded to 4-byte multiples, and the mean runs over the 3·w
    pixel bytes per row (padding excluded) — same integer-floor
    convention as the PNG path. Other bit depths / compressions report
    dims only."""
    import struct

    bad = {"width": None, "height": None, "mean_byte": None, "ok": False}
    if len(payload) < 26:
        return bad
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    if hdr_size == 12:  # BITMAPCOREHEADER
        w, h = struct.unpack_from("<HH", payload, 18)
        return {"width": int(w), "height": int(h), "mean_byte": None, "ok": True}
    if hdr_size < 16 or len(payload) < 26:
        return bad
    w, h = struct.unpack_from("<ii", payload, 18)
    if w <= 0 or h == 0:
        return bad
    out = {"width": int(w), "height": abs(int(h)), "mean_byte": None, "ok": True}
    if hdr_size < 20 or len(payload) < 34:
        return out
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    (off_bits,) = struct.unpack_from("<I", payload, 10)
    if bpp != 24 or compression != 0:  # BI_RGB only
        return out
    n_rows = abs(int(h))
    row_stride = ((24 * int(w) + 31) // 32) * 4  # 4-byte row padding
    pixel_bytes = 3 * int(w)
    needed = off_bits + row_stride * n_rows
    # bomb/truncation guard: declared dims must fit the actual payload
    if needed > len(payload) or row_stride * n_rows > MAX_PNG_RAW_BYTES:
        return out
    total = 0
    for r in range(n_rows):
        start = off_bits + r * row_stride
        total += sum(payload[start : start + pixel_bytes])
    n = pixel_bytes * n_rows
    out["mean_byte"] = int(total // n) if n else None
    return out


def _decode_webp(payload: bytes) -> dict:
    """WebP dims via the public container + bitstream specs, on the
    same RIFF chunk walk as ``decode_wav_bytes``:

    * ``VP8 `` (lossy): 3-byte frame tag, 3-byte start code 9D 01 2A,
      then 14-bit width/height in two uint16 LE;
    * ``VP8L`` (lossless): signature 0x2F, then width−1 and height−1
      as two 14-bit fields of the next uint32 LE — and REAL pixel
      statistics via the full pure-python bitstream decoder in
      ``operators/vp8l.py`` (prefix codes, meta codes, color cache,
      LZ77, all four transforms); ``mean_byte`` = integer-floor mean
      over R,G,B (alpha excluded); any decode irregularity degrades to
      dims-only, and so does the pixel budget ``vp8l.MAX_PIXELS``:
      past 1M pixels: dims only, ``mean_byte`` NULL, ``ok`` true;
    * ``VP8X`` (extended): 4 flag bytes, then canvas width−1 and
      height−1 as uint24 LE each.

    VP8 (lossy) pixel decode remains the libwebp swap-in point —
    ``mean_byte`` stays None there, dims are real."""
    import struct

    bad = {"width": None, "height": None, "mean_byte": None, "ok": False}
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + csz]
        if cid == b"VP8 " and len(body) >= 10:
            if body[3:6] != b"\x9d\x01\x2a":
                return bad
            (w,) = struct.unpack_from("<H", body, 6)
            (h,) = struct.unpack_from("<H", body, 8)
            return {
                "width": w & 0x3FFF,
                "height": h & 0x3FFF,
                "mean_byte": None,
                "ok": True,
            }
        if cid == b"VP8L" and len(body) >= 5:
            if body[0] != 0x2F:
                return bad
            (bits,) = struct.unpack_from("<I", body, 1)
            out = {
                "width": (bits & 0x3FFF) + 1,
                "height": ((bits >> 14) & 0x3FFF) + 1,
                "mean_byte": None,
                "ok": True,
            }
            try:
                from contessa_spark.operators.vp8l import vp8l_mean_rgb

                out["mean_byte"] = vp8l_mean_rgb(body)
            except ValueError:
                pass  # malformed pixel stream: dims-only, still ok
            return out
        if cid == b"VP8X" and len(body) >= 10:
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            return {"width": w, "height": h, "mean_byte": None, "ok": True}
        pos += 8 + csz + (csz & 1)  # chunks are word-aligned
    return bad


class _JpegBitReader:
    """MSB-first bit reader over JPEG entropy-coded data with byte
    stuffing (FF 00 → literal FF) and restart-marker awareness; raises
    ``_JpegScanEnd`` at any other FF-marker (end of scan)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self):
        d = self.data
        if self.pos >= len(d):
            raise _JpegScanEnd()
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2  # stuffed FF
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise _JpegRestart(nxt)
            else:
                raise _JpegScanEnd()
        else:
            self.pos += 1
        self.bits = (self.bits << 8) | b
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.bits >> self.nbits) & ((1 << n) - 1)
        self.bits &= (1 << self.nbits) - 1
        return v


class _JpegScanEnd(Exception):
    pass


class _JpegRestart(Exception):
    def __init__(self, marker):
        self.marker = marker


def _huff_table(counts, symbols):
    """Canonical JPEG Huffman table → dict (length, code) → symbol."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _JpegBitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    """ITU-T T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_dc_mean(payload, sos_pos, components, qtables, dc_tables,
                  ac_tables, scan_map, restart_interval):
    """Mean pixel value of a BASELINE scan from DC coefficients only.

    The IDCT's DC term is the block mean: with only F(0,0), every
    sample is F(0,0)/8 + 128 (8-bit level shift), so the image mean is
    the block-count-weighted mean of ``clamp(DC·Q[0]/8 + 128)`` —
    EXACT up to block-edge padding when dims aren't multiples of 8.
    AC coefficients share the bitstream, so they are Huffman-walked
    (run/size + EOB/ZRL) and discarded. Restart markers reset DC
    predictions per T.81 §E.2.4."""
    br = _JpegBitReader(payload, sos_pos)
    h_max = max(c["h"] for c in components)
    v_max = max(c["v"] for c in components)
    w, h = components[0]["width_img"], components[0]["height_img"]
    mcus_x = (w + 8 * h_max - 1) // (8 * h_max)
    mcus_y = (h + 8 * v_max - 1) // (8 * v_max)
    preds = {c["id"]: 0 for c in components}
    total = 0.0
    blocks = 0
    mcu_count = 0
    for _my in range(mcus_y):
        for _mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                # byte-align (drop padding bits), then the RSTn marker
                # must follow; DC predictions reset (T.81 §E.2.4)
                br.bits = 0
                br.nbits = 0
                d = br.data
                if (
                    br.pos + 1 < len(d)
                    and d[br.pos] == 0xFF
                    and 0xD0 <= d[br.pos + 1] <= 0xD7
                ):
                    br.pos += 2
                    preds = {c["id"]: 0 for c in components}
                else:
                    raise ValueError("expected restart marker")
            mcu_count += 1
            for c in components:
                dc_t = dc_tables[scan_map[c["id"]][0]]
                ac_t = ac_tables[scan_map[c["id"]][1]]
                q0 = qtables[c["tq"]][0]
                for _b in range(c["h"] * c["v"]):
                    t = _huff_decode(br, dc_t)
                    diff = _extend(br.read(t), t)
                    preds[c["id"]] += diff
                    mean_b = preds[c["id"]] * q0 / 8.0 + 128.0
                    total += min(255.0, max(0.0, mean_b))
                    blocks += 1
                    k = 1
                    while k <= 63:  # skip AC coefficients
                        rs = _huff_decode(br, ac_t)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r + 1
                        br.read(s)
    if not blocks:
        return None
    return int(total // blocks)


def _jpeg_progressive_dc_mean(
    payload, sos_i, components, qtables, dc_tables, restart_interval
):
    """Mean pixel value of a PROGRESSIVE (SOF2) image from its DC
    scans — the same DC-term-is-the-block-mean identity as
    ``_jpeg_dc_mean``, exploited across the multi-scan structure:

    * progressive separates DC and AC into DIFFERENT scans, so AC
      scans are skipped wholesale by marker search (no entropy walk);
    * the first DC scan (Ah=0) is baseline-style DIFF coding of the
      point-transformed value (DC >> Al), stored as ``pred << Al``;
    * DC refinement scans (Ah>0) append one raw bit per block:
      ``value |= bit << Al`` (python's two's-complement |= matches the
      C semantics for negative coefficients, T.81 §G.1.2.1);
    * DHT/DRI segments between scans update tables mid-walk.

    Returns None when no first DC scan was seen."""
    import struct

    n = len(payload)
    dc_tables = dict(dc_tables)  # later DHTs must not leak to caller
    h_max = max(c["h"] for c in components)
    v_max = max(c["v"] for c in components)
    w, hgt = components[0]["width_img"], components[0]["height_img"]
    mcus_x = (w + 8 * h_max - 1) // (8 * h_max)
    mcus_y = (hgt + 8 * v_max - 1) // (8 * v_max)
    comp_by_id = {c["id"]: c for c in components}
    dc = {c["id"]: {} for c in components}
    saw_first = False

    def find_marker(pos):
        while pos + 1 < n:
            if (
                payload[pos] == 0xFF
                and payload[pos + 1] != 0x00
                and not (0xD0 <= payload[pos + 1] <= 0xD7)
            ):
                return pos
            pos += 1
        return n

    def decode_dc_scan(pos, scomps, ah, al):
        br = _JpegBitReader(payload, pos)
        preds = {cid: 0 for cid, _ in scomps}
        if len(scomps) > 1:  # interleaved: full MCU walk
            mcu_iter = (
                (mx, my) for my in range(mcus_y) for mx in range(mcus_x)
            )
            mcu_count = 0
            for mx, my in mcu_iter:
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    br.bits = 0
                    br.nbits = 0
                    if (
                        br.pos + 1 < n
                        and payload[br.pos] == 0xFF
                        and 0xD0 <= payload[br.pos + 1] <= 0xD7
                    ):
                        br.pos += 2
                        preds = {cid: 0 for cid, _ in scomps}
                    else:
                        raise ValueError("expected restart marker")
                mcu_count += 1
                for cid, tdc in scomps:
                    c = comp_by_id[cid]
                    stride = mcus_x * c["h"]
                    for b in range(c["h"] * c["v"]):
                        by, bx = divmod(b, c["h"])
                        idx = (my * c["v"] + by) * stride + mx * c["h"] + bx
                        if ah == 0:
                            t = _huff_decode(br, dc_tables[tdc])
                            preds[cid] += _extend(br.read(t), t)
                            dc[cid][idx] = preds[cid] << al
                        elif br.read(1):
                            dc[cid][idx] |= 1 << al
        else:  # non-interleaved: the component's own block raster
            cid, tdc = scomps[0]
            c = comp_by_id[cid]
            cw = (w * c["h"] + h_max - 1) // h_max
            ch = (hgt * c["v"] + v_max - 1) // v_max
            wb, hb = (cw + 7) // 8, (ch + 7) // 8
            stride = mcus_x * c["h"]
            count = 0
            for row in range(hb):
                for col in range(wb):
                    if (
                        restart_interval
                        and count
                        and count % restart_interval == 0
                    ):
                        br.bits = 0
                        br.nbits = 0
                        if (
                            br.pos + 1 < n
                            and payload[br.pos] == 0xFF
                            and 0xD0 <= payload[br.pos + 1] <= 0xD7
                        ):
                            br.pos += 2
                            preds[cid] = 0
                        else:
                            raise ValueError("expected restart marker")
                    count += 1
                    idx = row * stride + col
                    if ah == 0:
                        t = _huff_decode(br, dc_tables[tdc])
                        preds[cid] += _extend(br.read(t), t)
                        dc[cid][idx] = preds[cid] << al
                    elif br.read(1):
                        dc[cid][idx] |= 1 << al

    marker = 0xDA
    i = sos_i
    while True:
        if marker == 0xD9 or marker in _JPEG_SOF_MARKERS:
            break
        if i + 2 > n:
            break
        (seg_len,) = struct.unpack_from(">H", payload, i)
        seg = payload[i + 2 : i + seg_len]
        data_start = i + seg_len
        if marker == 0xC4:  # DHT between scans (DC tables only)
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                counts = list(seg[p + 1 : p + 17])
                nsym = sum(counts)
                if p + 17 + nsym > len(seg):
                    break
                if tc == 0:
                    dc_tables[th] = _huff_table(
                        counts, list(seg[p + 17 : p + 17 + nsym])
                    )
                p += 17 + nsym
        elif marker == 0xDD and len(seg) >= 2:
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA and seg:
            ns = seg[0]
            if 1 + ns * 2 + 3 <= len(seg):
                scomps = [
                    (seg[1 + k * 2], seg[2 + k * 2] >> 4) for k in range(ns)
                ]
                ss = seg[1 + ns * 2]
                ahal = seg[3 + ns * 2]
                ah, al = ahal >> 4, ahal & 0xF
                if ss == 0 and all(c in comp_by_id for c, _ in scomps):
                    decode_dc_scan(data_start, scomps, ah, al)
                    saw_first = saw_first or ah == 0
                # AC scans (ss > 0): skipped — find_marker walks past
        mpos = find_marker(data_start)
        if mpos >= n:
            break
        marker = payload[mpos + 1]
        i = mpos + 2
    if not saw_first:
        return None
    total = 0.0
    blocks = 0
    for c in components:
        q0 = qtables[c["tq"]][0]
        for v in dc[c["id"]].values():
            total += min(255.0, max(0.0, v * q0 / 8.0 + 128.0))
            blocks += 1
    return int(total // blocks) if blocks else None


def _decode_jpeg(payload: bytes) -> dict:
    """JPEG decode via the public-spec marker walk (ITU-T T.81):
    segments are FF <marker> <len16 incl. itself>; the SOFn frame
    header holds precision(1) height(2) width(2) big-endian.

    For BASELINE (SOF0, 8-bit, Huffman) images the entropy-coded scan
    is decoded and ``mean_byte`` is the DC-only mean pixel value —
    exact up to block-edge padding (see ``_jpeg_dc_mean``). For
    PROGRESSIVE (SOF2, 8-bit) images the DC scans — first pass and
    successive-approximation refinements — are decoded and AC scans
    skipped (see ``_jpeg_progressive_dc_mean``). Arithmetic-coded /
    12-bit streams report dims only."""
    import struct

    i = 2  # past FFD8
    n = len(payload)
    width = height = None
    baseline = False
    progressive = False
    components = []
    qtables = {}
    dc_tables = {}
    ac_tables = {}
    restart_interval = 0
    while i + 4 <= n:
        if payload[i] != 0xFF:
            break  # desynchronized stream
        # fill bytes: FF may repeat before the marker code
        while i < n and payload[i] == 0xFF:
            i += 1
        if i >= n:
            break
        marker = payload[i]
        i += 1
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            continue  # standalone: TEM / RSTn / (repeated) SOI
        if marker == 0xD9:  # EOI
            break
        if i + 2 > n:
            break
        (seg_len,) = struct.unpack_from(">H", payload, i)
        seg = payload[i + 2 : i + seg_len]
        if marker in _JPEG_SOF_MARKERS:
            if i + 8 > n:  # need precision(1)+h(2)+w(2)+ncomp(1) at i+2
                break
            precision = payload[i + 2]
            height, width = struct.unpack_from(">HH", payload, i + 3)
            baseline = marker == 0xC0 and precision == 8
            progressive = marker == 0xC2 and precision == 8
            ncomp = payload[i + 7]
            components = []
            for ci in range(ncomp):
                off = 6 + ci * 3
                if off + 3 > len(seg):
                    baseline = progressive = False
                    break
                components.append(
                    {
                        "id": seg[off],
                        "h": seg[off + 1] >> 4,
                        "v": seg[off + 1] & 0xF,
                        "tq": seg[off + 2],
                        "width_img": int(width),
                        "height_img": int(height),
                    }
                )
        elif marker == 0xDB:  # DQT
            try:
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 0xF
                    p += 1
                    vals = []
                    for _ in range(64):
                        if pq:
                            vals.append(struct.unpack_from(">H", seg, p)[0])
                            p += 2
                        else:
                            vals.append(seg[p])
                            p += 1
                    qtables[tq] = vals
            except (IndexError, struct.error):
                pass  # truncated table: ignore, mean falls back to None
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                counts = list(seg[p + 1 : p + 17])
                nsym = sum(counts)
                if p + 17 + nsym > len(seg):
                    break  # truncated table
                symbols = list(seg[p + 17 : p + 17 + nsym])
                tbl = _huff_table(counts, symbols)
                (dc_tables if tc == 0 else ac_tables)[th] = tbl
                p += 17 + nsym
        elif marker == 0xDD and len(seg) >= 2:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if width is None:
                break  # SOS before any SOF: malformed
            mean = None
            if progressive and components and qtables and seg:
                try:
                    mean = _jpeg_progressive_dc_mean(
                        payload, i, components, qtables, dc_tables,
                        restart_interval,
                    )
                except Exception:
                    mean = None  # contained: dims stay trustworthy
            elif baseline and components and qtables and seg:
                ns = seg[0]
                scan_map = {}
                ok = True
                for si in range(ns):
                    off = 1 + si * 2
                    if off + 2 > len(seg):
                        ok = False
                        break
                    scan_map[seg[off]] = (seg[off + 1] >> 4, seg[off + 1] & 0xF)
                if ok:
                    try:
                        mean = _jpeg_dc_mean(
                            payload, i + seg_len, components, qtables,
                            dc_tables, ac_tables, scan_map, restart_interval,
                        )
                    except Exception:
                        mean = None  # contained: dims stay trustworthy
            return {
                "width": int(width),
                "height": int(height),
                "mean_byte": mean,
                "ok": True,
            }
        i += seg_len
    if width is not None:
        return {
            "width": int(width),
            "height": int(height),
            "mean_byte": None,
            "ok": True,
        }
    return {"width": None, "height": None, "mean_byte": None, "ok": False}


def _decode_png(payload: bytes) -> dict:
    """Real, dependency-free PNG decode (public spec, RFC 2083):
    chunk walk → IHDR dims; for 8-bit non-interlaced gray/RGB/RGBA/GA
    images the IDAT stream is zlib-inflated and the five scanline
    filters (None/Sub/Up/Average/Paeth) are reversed to compute
    ``mean_byte`` over the raw pixel bytes. Other bit depths /
    interlaced images return dims with ``mean_byte=None``.

    Pure-python unfilter is fine for the metadata path; a production
    pixel path would swap in Pillow inside this same function body.
    """
    import struct
    import zlib

    pos = len(_PNG_MAGIC)
    width = height = bit_depth = color_type = interlace = None
    idat = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _c, _f, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc32
    if width is None:
        return {"width": None, "height": None, "mean_byte": None, "ok": False}
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if bit_depth != 8 or channels is None or interlace != 0 or not idat:
        return {"width": int(width), "height": int(height), "mean_byte": None, "ok": True}
    stride = width * channels
    expected = (stride + 1) * height
    if expected > MAX_PNG_RAW_BYTES:
        # bomb guard: dims are trustworthy (IHDR), pixel stats are not
        # worth inflating 64 MB+ for — skip, don't OOM the worker
        return {"width": int(width), "height": int(height), "mean_byte": None, "ok": True}
    # bounded inflate: never produce more than the scanlines imply, even
    # if the stream would (max_length caps the bomb the IHDR undersold)
    d = zlib.decompressobj()
    raw = d.decompress(b"".join(idat), expected)
    if len(raw) < expected:
        raise ValueError(
            f"truncated PNG pixel data: {len(raw)} < {expected} bytes"
        )
    rows = _unfilter_scanlines(raw, height, stride, channels)
    total = sum(sum(line) for line in rows)
    n = stride * height
    return {
        "width": int(width),
        "height": int(height),
        "mean_byte": int(total // n) if n else None,
        "ok": True,
    }


def _unfilter_scanlines(raw: bytes, height: int, stride: int, channels: int):
    """Reverse the five PNG scanline filters → list of raw pixel rows
    (bytearrays of ``stride`` bytes each)."""
    rows = []
    prev = bytearray(stride)
    p = 0
    for _ in range(height):
        f = raw[p]
        p += 1
        line = bytearray(raw[p : p + stride])
        p += stride
        if f == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        rows.append(line)
        prev = line
    return rows


def _encode_png(rows, width: int, height: int, channels: int) -> bytes:
    """Minimal PNG encoder: 8-bit, filter 0 per scanline, one IDAT."""
    import struct
    import zlib

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = bytearray()
    for line in rows:
        raw.append(0)
        raw += line
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def resize_png_bytes(payload: bytes, target_w: int, target_h: int) -> bytes:
    """Real PNG resize: decode (chunk walk + unfilter) → nearest-
    neighbor sample with numpy → re-encode (filter 0). Supports the
    same 8-bit non-interlaced subset as ``_decode_png``; raises
    ValueError otherwise (callers contain per record)."""
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG")
    pos = len(_PNG_MAGIC)
    width = height = bit_depth = color_type = interlace = None
    idat = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if width is None or bit_depth != 8 or channels is None or interlace != 0:
        raise ValueError("unsupported PNG variant for resize")
    stride = width * channels
    expected = (stride + 1) * height
    if expected > MAX_PNG_RAW_BYTES:
        raise ValueError("image too large to resize in-worker")
    raw = zlib.decompressobj().decompress(b"".join(idat), expected)
    if len(raw) < expected:
        raise ValueError("truncated PNG pixel data")
    rows = _unfilter_scanlines(raw, height, stride, channels)
    px = np.frombuffer(b"".join(bytes(r) for r in rows), dtype=np.uint8).reshape(
        height, width, channels
    )
    yi = (np.arange(target_h) * height) // target_h
    xi = (np.arange(target_w) * width) // target_w
    out = px[yi][:, xi]  # nearest-neighbor
    out_rows = [bytearray(out[y].tobytes()) for y in range(target_h)]
    return _encode_png(out_rows, target_w, target_h, channels)


def _map_payloads(df: DataFrame, row, schema: str) -> DataFrame:
    """``mapInArrow`` over (media_id, payload) → ``schema``: one output
    row per record, ``row(payload)`` (``bytes``, or None for a NULL
    payload) giving its fields by name; a field it leaves out is NULL."""
    arrow_schema = to_arrow_schema(T.StructType.fromDDL(schema))

    def _map(batches):
        for b in batches:
            ids, payloads = b.column(0).to_pylist(), b.column(1).to_pylist()
            rows = [{**row(p), "media_id": mid} for mid, p in zip(ids, payloads)]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.select("media_id", "payload").mapInArrow(_map, schema=schema)


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Real distributed resize for PNG payloads: mapInArrow over
    (media_id, payload) → (media_id, payload resized-PNG, ok). Non-PNG
    / corrupt payloads yield ok=False with a NULL payload (per-record
    containment, as everywhere in this module)."""

    def _resize(payload):
        try:
            return {"payload": resize_png_bytes(payload or b"", target_w, target_h), "ok": True}
        except Exception:
            return {"ok": False}

    return _map_payloads(df, _resize, "media_id long, payload binary, ok boolean")


def fake_image_bytes(width: int, height: int, mean_byte: int) -> bytes:
    """Deterministic stand-in blob: 8-byte magic + packed header +
    (width*height % 4096) filler bytes."""
    body_len = (width * height) % 4096
    return _MAGIC + struct.pack("<IIB", width, height, mean_byte) + bytes(
        (mean_byte + i) % 256 for i in range(body_len)
    )


def decode_image_bytes(payload: bytes) -> dict:
    """Pure core: PNG (real decode, see ``_decode_png``) or the
    FAKEIMG1 test container → metadata. Other formats raise
    NotImplementedError (clearly-marked stub — wire Pillow/libav here;
    the distributed plumbing above does not change). Lossless WebP
    (VP8L) past 1M pixels: dims only, ``mean_byte`` NULL, ``ok`` true
    (``vp8l.MAX_PIXELS``, see ``_decode_webp``)."""
    if payload is None or len(payload) < len(_MAGIC):
        return {"width": None, "height": None, "mean_byte": None, "ok": False}
    if payload.startswith(_PNG_MAGIC):
        return _decode_png(payload)
    if payload.startswith(_JPEG_MAGIC):
        return _decode_jpeg(payload)
    if (
        payload.startswith(_RIFF_MAGIC)
        and len(payload) >= 12
        and payload[8:12] == b"WEBP"
    ):
        return _decode_webp(payload)
    if payload.startswith(b"GIF87a") or payload.startswith(b"GIF89a"):
        return _decode_gif(payload)
    if payload.startswith(b"BM"):
        return _decode_bmp(payload)
    if not payload.startswith(_MAGIC):
        raise NotImplementedError(
            "only PNG, JPEG/WebP/GIF/BMP (dims) and the deterministic "
            "FAKEIMG1 container are decodable in this environment (no "
            "image libraries baked in)"
        )
    w, h, m = struct.unpack_from("<IIB", payload, len(_MAGIC))
    return {"width": w, "height": h, "mean_byte": m, "ok": True}


DECODED_SCHEMA = (
    "media_id long, width int, height int, mean_byte int, ok boolean, n_bytes long"
)

_RIFF_MAGIC = b"RIFF"


def fake_wav_bytes(
    sample_rate: int, n_channels: int, frames: int, seed: int
) -> bytes:
    """A REAL minimal PCM16 WAV (RIFF/WAVE fmt+data) with deterministic
    sawtooth-ish samples: flat sample k = ((k*37 + seed) % 2048) − 1024.
    Unlike FAKEIMG this needs no private container — the decode path
    exercises the actual public format."""
    import struct

    n_flat = frames * n_channels
    samples = bytearray()
    for k in range(n_flat):
        samples += struct.pack("<h", ((k * 37 + seed) % 2048) - 1024)
    block_align = n_channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align,
        block_align, 16,
    )
    data = bytes(samples)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_bytes(payload: bytes) -> dict:
    """Pure core: RIFF/WAVE chunk walk (public spec) → fmt metadata +
    frame count; for PCM16 the sample stream is actually decoded
    (numpy frombuffer) into a mean-absolute-amplitude stat. Returns
    ok=False on anything malformed."""
    import struct

    bad = {
        "sample_rate": None, "n_channels": None, "bits_per_sample": None,
        "n_frames": None, "duration_ms": None, "mean_abs": None, "ok": False,
    }
    if (
        payload is None
        or len(payload) < 12
        or payload[:4] != _RIFF_MAGIC
        or payload[8:12] != b"WAVE"
    ):
        return bad
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + csz]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body)
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return bad
    audio_format, n_channels, sample_rate, _br, block_align, bits = fmt
    if not block_align or not sample_rate:
        return bad
    n_frames = len(data) // block_align
    mean_abs = None
    if audio_format == 1 and bits == 16:
        import numpy as np

        arr = np.frombuffer(
            data[: n_frames * block_align], dtype="<i2"
        ).astype(np.float64)
        if arr.size:
            # FLOOR to 6 dp, not round(): the sample sums are exact
            # integers in float64 on both engines, but a mean landing
            # exactly on a .5 at the 7th digit splits python's banker's
            # rounding from SQL's half-away (hit at sf0.1) — floor is
            # the rounding with identical semantics everywhere (same
            # lesson as sampling._threshold_hex_floor)
            import math

            mean_abs = math.floor(float(np.abs(arr).mean()) * 1e6) / 1e6
    import math

    return {
        "sample_rate": int(sample_rate),
        "n_channels": int(n_channels),
        "bits_per_sample": int(bits),
        "n_frames": int(n_frames),
        "duration_ms": math.floor(n_frames / sample_rate * 1000 * 1e6) / 1e6,
        "mean_abs": mean_abs,
        "ok": True,
    }


def fake_mp4_bytes(
    width: int, height: int, duration_units: int, timescale: int = 1000
) -> bytes:
    """A REAL minimal ISO-BMFF (MP4) skeleton: ftyp + moov{mvhd,
    trak{tkhd}} with version-0 boxes — enough structure for any
    box-walking metadata parser, no media samples."""
    import struct

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + btype + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = box(
        b"mvhd",
        struct.pack(">B3x", 0)  # version 0 + flags
        + struct.pack(">II", 0, 0)  # creation/modification
        + struct.pack(">II", timescale, duration_units)
        + struct.pack(">IH2x", 0x00010000, 0x0100)  # rate, volume
        + bytes(8 + 36 + 24)  # reserved + matrix + predefined
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = box(
        b"tkhd",
        struct.pack(">B3x", 0)
        + struct.pack(">III", 0, 0, 1)  # times, track id
        + bytes(4 + 4)  # reserved, duration
        + bytes(8)  # reserved
        + struct.pack(">HH", 0, 0)  # layer, alt group
        + struct.pack(">H2x", 0)  # volume
        + bytes(36)  # matrix
        + struct.pack(">II", width << 16, height << 16),  # 16.16 fixed
    )
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    return ftyp + moov


def decode_mp4_bytes(payload: bytes) -> dict:
    """Pure core: ISO-BMFF box walk (ISO/IEC 14496-12, public spec) →
    movie duration from ``moov/mvhd`` (version 0 and 1) and track
    dimensions from the first ``moov/trak/tkhd`` (16.16 fixed-point).
    No sample decode — the libav swap-in point; ok=False on anything
    that isn't a well-formed box tree."""
    import struct

    bad = {
        "width": None, "height": None, "duration_ms": None,
        "timescale": None, "ok": False,
    }
    if payload is None or len(payload) < 8:
        return bad

    def walk(lo: int, hi: int):
        pos = lo
        while pos + 8 <= hi:
            (size,) = struct.unpack_from(">I", payload, pos)
            btype = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > hi:
                    return
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                body = pos + 16
            elif size == 0:  # box extends to end
                size = hi - pos
            if size < 8 or pos + size > hi:
                return
            yield btype, body, pos + size
            pos += size

    duration = timescale = width = height = None
    saw_ftyp = saw_moov = False
    for btype, body, end in walk(0, len(payload)):
        if btype == b"ftyp":
            saw_ftyp = True
        if btype == b"moov":
            saw_moov = True
            for b2, body2, end2 in walk(body, end):
                if b2 == b"mvhd" and end2 - body2 >= 4:
                    ver = payload[body2]
                    if ver == 0 and end2 - body2 >= 20:
                        timescale, duration = struct.unpack_from(
                            ">II", payload, body2 + 12
                        )
                    elif ver == 1 and end2 - body2 >= 28:
                        (timescale,) = struct.unpack_from(">I", payload, body2 + 20)
                        (duration,) = struct.unpack_from(">Q", payload, body2 + 24)
                elif b2 == b"trak" and width is None:
                    for b3, body3, end3 in walk(body2, end2):
                        if b3 == b"tkhd" and end3 - body3 >= 84:
                            w, h = struct.unpack_from(">II", payload, end3 - 8)
                            width, height = w >> 16, h >> 16
    if not (saw_ftyp and saw_moov) or timescale in (None, 0):
        return bad
    return {
        "width": int(width) if width is not None else None,
        "height": int(height) if height is not None else None,
        "duration_ms": round(duration / timescale * 1000, 6),
        "timescale": int(timescale),
        "ok": True,
    }


VIDEO_SCHEMA = (
    "media_id long, width int, height int, duration_ms double, "
    "timescale int, ok boolean"
)


def decode_video(df: DataFrame) -> DataFrame:
    """mapInArrow MP4 metadata decode — per-record containment as in
    ``decode_images``/``decode_audio``."""

    def _decode(payload):
        try:
            return decode_mp4_bytes(payload)
        except Exception:
            return {"ok": False}

    return _map_payloads(df, _decode, VIDEO_SCHEMA)


AUDIO_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, bits_per_sample int, "
    "n_frames long, duration_ms double, mean_abs double, ok boolean"
)


def decode_audio(df: DataFrame) -> DataFrame:
    """mapInArrow audio decode — same per-record containment contract
    as ``decode_images`` (a corrupt blob yields an ok=False row)."""

    def _decode(payload):
        try:
            return decode_wav_bytes(payload)
        except Exception:
            return {"ok": False}

    return _map_payloads(df, _decode, AUDIO_SCHEMA)


def decode_images(df: DataFrame) -> DataFrame:
    """mapInArrow decode: batches of (media_id, payload) → metadata.

    The pattern to copy for real decoders: per-record loop over the
    binary cells of an Arrow batch, output a narrow typed batch, never
    carry the blob forward.
    """

    def _decode(payload):
        # per-record containment: one truncated/corrupt blob in a
        # 10^12-doc crawl must yield an ok=False ROW, not fail the job
        # after task retries. NotImplementedError stays fatal on
        # purpose — an unrouted format is a pipeline configuration
        # error (gate on mime upstream), not data corruption.
        try:
            d = decode_image_bytes(payload)
        except NotImplementedError:
            raise
        except Exception:
            d = {"ok": False}
        return {**d, "n_bytes": len(payload) if payload is not None else 0}

    return _map_payloads(df, _decode, DECODED_SCHEMA)
