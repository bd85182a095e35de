"""String and integer hash kernels, and the batch word table, shared
across the library.

* ``fnv1a`` — FNV-1a (64- or 32-bit) over the UTF-8 bytes of each
  string of an Arrow string array, batch-at-a-time: the strings are
  ordered longest first, so the ones still active at byte position p
  are a prefix, and each position costs one numpy xor/multiply pass
  over that prefix. The last few (long) strings finish in a scalar
  loop so one huge token does not cost a numpy call per byte.
* ``word_table`` — a batch's words, split and dictionary-encoded once
  inside Arrow: per-doc offsets into one code array, and the batch's
  distinct words. A document's words are its whitespace split (the
  same as ``str.split()``), optionally lowercased; NULL has none. It
  is the one word split of every word-level UDF (annotate, shingles,
  MinHash, SimHash, substring dedup, the quality classifier and the
  subword tokenizers).
* ``gram_hashes`` — FNV-64 of every word k-gram ``" ".join(words[i:i+k])``
  of a word table, without building a gram string: each distinct word
  is hashed once and the next k−1 words are folded in by continuing
  the hash state.
* ``splitmix64`` — the SplitMix64 finalizer (Steele et al. 2014).

Hashes are stable across processes (unlike ``hash()``), so anything
derived from them is layout- and worker-independent.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

FNV64_BASIS = 0xCBF29CE484222325
FNV64_PRIME = 0x100000001B3
FNV32_BASIS = 2166136261
FNV32_PRIME = 16777619

_MASK64 = 0xFFFFFFFFFFFFFFFF
#: below this many active strings the per-byte numpy pass costs more
#: than finishing them in Python
_SCALAR_TAIL = 32


def list_array(counts, values) -> pa.Array:
    """Arrow list array whose row i holds the next ``counts[i]``
    entries of ``values``."""
    return pa.ListArray.from_arrays(np.concatenate(([0], np.cumsum(counts))).astype(np.int32), values)


def string_array(strings) -> pa.Array:
    """One Arrow string array for an Arrow string/large_string array
    (chunked or sliced) or a Python sequence; NULL becomes ``""``."""
    arr = strings if isinstance(strings, (pa.Array, pa.ChunkedArray)) else pa.array(strings, pa.string())
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return arr.fill_null("") if arr.null_count else arr


def fnv1a(strings, bits: int = 64, init=None) -> np.ndarray:
    """uint64 array of FNV-1a hashes (``bits`` = 64 or 32) of each
    string's UTF-8 bytes. ``strings`` is an Arrow string array (chunked
    or sliced) or a Python sequence; NULL hashes as the empty string.
    ``init`` (uint64 per string) continues hashing from that state
    instead of the offset basis: ``fnv1a(b, init=fnv1a(a)) ==
    fnv1a(a + b)``."""
    arr = string_array(strings)
    n = len(arr)
    basis, prime = (FNV64_BASIS, FNV64_PRIME) if bits == 64 else (FNV32_BASIS, FNV32_PRIME)
    h = np.full(n, basis, dtype=np.uint64) if init is None else np.array(init, dtype=np.uint64)
    if n == 0:
        return h
    _, off_buf, data_buf = arr.buffers()
    off_type = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(off_buf, dtype=off_type)[arr.offset : arr.offset + n + 1].astype(np.int64)
    data = np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None else np.empty(0, np.uint8)
    lens = np.diff(offsets)
    order = np.argsort(-lens, kind="stable")
    pos, left = offsets[:-1][order], lens[order]
    hs = h[order]
    neg_left, p_prime = -left, np.uint64(prime)
    p = 0
    # m = number of strings longer than p: a prefix, longest first
    while (m := int(np.searchsorted(neg_left, -p))) >= _SCALAR_TAIL:
        np.bitwise_xor(hs[:m], data[pos[:m] + p], out=hs[:m])
        np.multiply(hs[:m], p_prime, out=hs[:m])
        p += 1
    # low 32 bits of a 64-bit xor/multiply chain depend only on the low
    # 32 bits of its inputs, so the 32-bit hash is masked once here
    mask = _MASK64 if bits == 64 else 0xFFFFFFFF
    for i in range(m):
        x = int(hs[i])
        for b in data[pos[i] + p : pos[i] + left[i]].tobytes():
            x = ((x ^ b) * prime) & mask
        hs[i] = x
    h[order] = hs & np.uint64(mask)
    return h


def lowercase(words) -> pa.Array:
    """Python's ``str.lower`` of each word of an Arrow string array."""
    return pa.array([w.lower() for w in words.to_numpy(zero_copy_only=False)], words.type)


def word_table(texts, lower: bool = False):
    """(offsets, codes, words) of a batch of texts (``string_array``
    input). ``words`` is the batch's distinct words as an Arrow string
    array (never ``""``); ``codes`` (int) indexes it with every word of
    every doc, docs concatenated in order; doc d's words are
    ``codes[offsets[d]:offsets[d + 1]]`` (int64 offsets, n + 1).

    The split is Arrow's ``utf8_split_whitespace``: it matches
    ``str.split()`` on every code point but keeps empty tokens (leading
    whitespace, whitespace runs, ``""``), dropped after one
    ``dictionary_encode``. Trailing whitespace is trimmed first:
    pyarrow 16.1's split decodes one code point past a text that ends
    in whitespace, which for the last text of the array lies past the
    data, so that whitespace sometimes came back as a word.
    ``lower=True`` lowers each distinct word once (``lowercase``, Python
    ``str.lower``: Arrow's ``utf8_lower`` differs on ``İ`` and final
    ``Σ``) and re-codes, giving each doc's ``t.lower().split()``."""
    arr = string_array(texts)
    parts = pc.utf8_split_whitespace(pc.utf8_rtrim_whitespace(arr))
    enc = pc.list_flatten(parts).dictionary_encode()
    codes, words = enc.indices.to_numpy(), enc.dictionary
    doc = np.repeat(np.arange(len(arr)), pc.list_value_length(parts).to_numpy())
    empty = np.flatnonzero(pc.binary_length(words).to_numpy() == 0)
    if len(empty):
        e = int(empty[0])
        keep = codes != e
        codes, doc = codes[keep], doc[keep]
        codes = codes - (codes > e)
        words = pa.concat_arrays([words[:e], words[e + 1 :]])
    if lower:
        enc = lowercase(words).dictionary_encode()
        codes, words = enc.indices.to_numpy()[codes], enc.dictionary
    offsets = np.zeros(len(arr) + 1, dtype=np.int64)
    np.cumsum(np.bincount(doc, minlength=len(arr)), out=offsets[1:])
    return offsets, codes, words


def doc_sums(x, offsets) -> np.ndarray:
    """Exact per-doc sums of an integer (or bool) per-word array over a
    word table's ``offsets``: differences of one cumulative sum."""
    cs = np.concatenate(([0], np.cumsum(x)))
    return cs[offsets[1:]] - cs[offsets[:-1]]


def gram_hashes(table, k: int):
    """(flat uint64, counts): FNV-64 of ``" ".join(words[i:i+k])`` for
    every word k-gram position of every doc of a ``word_table``, docs
    concatenated in order; ``counts[d] = max(0, len(words_d) − k + 1)``.
    Each distinct word is hashed once."""
    offsets, codes, words = table
    lens = np.diff(offsets)
    counts = np.maximum(lens - (k - 1), 0)
    if not counts.any():
        return np.empty(0, dtype=np.uint64), counts
    # gram starts: doc-local index < count of that doc
    doc_start = np.repeat(offsets[:-1], counts)
    starts = doc_start + (np.arange(len(doc_start)) - np.repeat(np.cumsum(counts) - counts, counts))
    acc = fnv1a(words)[codes[starts]]
    space, prime = np.uint64(0x20), np.uint64(FNV64_PRIME)
    for j in range(1, k):
        acc = fnv1a(words.take(codes[starts + j]), init=(acc ^ space) * prime)
    return acc, counts


def splitmix64(x: int) -> int:
    """SplitMix64 finalizer of ``x + golden gamma`` (Steele et al.
    2014, public-domain constants)."""
    z = (x + 0x9E3779B97F4A7C15) & _MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK64
    return z ^ (z >> 31)
