"""String and integer hash kernels shared across the library.

* ``fnv1a`` — FNV-1a (64- or 32-bit) over the UTF-8 bytes of each
  string of an Arrow string array, batch-at-a-time: the strings are
  ordered longest first, so the ones still active at byte position p
  are a prefix, and each position costs one numpy xor/multiply pass
  over that prefix. The last few (long) strings finish in a scalar
  loop so one huge token does not cost a numpy call per byte.
* ``lower_words`` — a batch's words: each document's lowercased
  whitespace split (NULL has none), the one word rule of the shingle,
  MinHash, SimHash, quality-classifier and subword-tokenizer UDFs.
* ``unique_tokens`` — one Arrow dictionary encoding of a batch's
  tokens: the distinct tokens and each token's code.
* ``gram_hashes`` — FNV-64 of every word k-gram ``" ".join(words[i:i+k])``
  without building a gram string: each unique token is hashed once and
  the next k−1 words are folded in by continuing the hash state.
* ``splitmix64`` — the SplitMix64 finalizer (Steele et al. 2014).

Hashes are stable across processes (unlike ``hash()``), so anything
derived from them is layout- and worker-independent.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa

FNV64_BASIS = 0xCBF29CE484222325
FNV64_PRIME = 0x100000001B3
FNV32_BASIS = 2166136261
FNV32_PRIME = 16777619

_MASK64 = 0xFFFFFFFFFFFFFFFF
#: below this many active strings the per-byte numpy pass costs more
#: than finishing them in Python
_SCALAR_TAIL = 32


def fnv1a(strings, bits: int = 64, init=None) -> np.ndarray:
    """uint64 array of FNV-1a hashes (``bits`` = 64 or 32) of each
    string's UTF-8 bytes. ``strings`` is an Arrow string array (chunked
    or sliced) or a Python sequence; NULL hashes as the empty string.
    ``init`` (uint64 per string) continues hashing from that state
    instead of the offset basis: ``fnv1a(b, init=fnv1a(a)) ==
    fnv1a(a + b)``."""
    arr = strings if isinstance(strings, (pa.Array, pa.ChunkedArray)) else pa.array(strings, pa.string())
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.fill_null("")
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


def lower_words(texts):
    """The words of each text: its lowercased whitespace split; NULL
    (any non-``str``) has none."""
    return [t.lower().split() if isinstance(t, str) else [] for t in texts]


def unique_tokens(tokens_per_doc):
    """(codes, uniq): the distinct tokens of all docs as an Arrow
    string array in first-seen order, and every token (docs
    concatenated in order) as an index into it. Arrow's
    ``dictionary_encode``: ``pd.factorize`` would merge strings that
    differ only after a NUL character."""
    enc = pa.array(list(itertools.chain.from_iterable(tokens_per_doc)), pa.string()).dictionary_encode()
    return enc.indices.to_numpy(), enc.dictionary


def gram_hashes(tokens_per_doc, k: int):
    """(flat uint64, counts): FNV-64 of ``" ".join(words[i:i+k])`` for
    every word k-gram position of every doc, docs concatenated in
    order; ``counts[d] = max(0, len(words_d) − k + 1)``. Each unique
    token (``unique_tokens``) is hashed once."""
    lens = np.fromiter(map(len, tokens_per_doc), dtype=np.int64, count=len(tokens_per_doc))
    counts = np.maximum(lens - (k - 1), 0)
    if not counts.any():
        return np.empty(0, dtype=np.uint64), counts
    codes, uniq = unique_tokens(tokens_per_doc)
    # gram starts: doc-local index < count of that doc
    doc_start = np.repeat(np.cumsum(lens) - lens, counts)
    starts = doc_start + (np.arange(len(doc_start)) - np.repeat(np.cumsum(counts) - counts, counts))
    acc = fnv1a(uniq)[codes[starts]]
    space, prime = np.uint64(0x20), np.uint64(FNV64_PRIME)
    for j in range(1, k):
        acc = fnv1a(uniq.take(codes[starts + j]), init=(acc ^ space) * prime)
    return acc, counts


def splitmix64(x: int) -> int:
    """SplitMix64 finalizer of ``x + golden gamma`` (Steele et al.
    2014, public-domain constants)."""
    z = (x + 0x9E3779B97F4A7C15) & _MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK64
    return z ^ (z >> 31)
