"""Blocklist-phrase matching — the C4 §2.1 "bad words" rule at scale.

Reference parity: no counterpart in contessa (SURVEY.md §2
extension — the C4 rule family next to functions/textstats.py).

Two paths, chosen by what the blocklist contains:

* ``blocked_word_col``: single WORDS → pure-JVM ``arrays_overlap``
  against the lowercased word array (codegen, zero UDF, and the exact
  predicate re-expresses as DuckDB ``list_has_any`` — oracle-shared).
* ``phrase_hits_udf``: multi-word PHRASES / substrings → a driver-built
  Aho-Corasick automaton closed over an ``arrow_udf``. One pass over the
  text counts occurrences of ALL patterns simultaneously — a regex
  alternation of thousands of phrases is quadratic-ish in practice and
  blows the regex compiler long before that (the real C4 list is ~400
  entries; CommonCrawl-scale lists reach 10⁵, where only an automaton
  works). The automaton is built once on the driver (tiny — nodes ≤
  total pattern chars) and ships to workers in the UDF closure.

The match kernel is VECTORIZED: the automaton is flattened to a dense
numpy transition table over the observed UTF-8 byte alphabet (fail
links resolved away — a full DFA), and every Arrow batch is stepped in
LOCKSTEP: texts are cut into fixed-width overlapping byte windows
(rows of one matrix), and each column position advances ALL windows
with two numpy gathers. Per-byte cost drops from ~1 µs (per-char
Python dict/while loop) to a few ns — the difference between this
being the slowest per-byte stage of a 100-TB run and a negligible one.
``build_ac``/``ac_count`` remain as the pure-Python reference core the
hypothesis fuzz oracle checks the kernel against.


Matching is case-insensitive on both paths (patterns are lowercased at
build time, text at match time). The AC path matches SUBSTRINGS, the
word path whole words — C4 uses word-level; phrase lists generally
want substring semantics (documented, tested).
"""

from __future__ import annotations

from collections import deque
from typing import Iterable, List, Tuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def blocked_word_col(text_col: str, words: Iterable[str]) -> Column:
    """True when any blocklisted WORD appears in the (?U)\\s+-split,
    lowercased word array. Pure JVM; SQL form: ``list_has_any``."""
    from contessa_spark.functions.textstats import spark_words_col

    blocked = sorted({w.lower() for w in words if w})
    arr = F.transform(spark_words_col(text_col), lambda x: F.lower(x))
    return F.arrays_overlap(
        arr, F.array(*[F.lit(w) for w in blocked])
    )


def build_ac(patterns: Iterable[str]) -> Tuple[list, list, list]:
    """Aho-Corasick automaton (goto / fail / output-count tables) over
    lowercased patterns. Returns (goto: list[dict], fail: list[int],
    nout: list[int]) where ``nout[s]`` is the number of patterns ending
    at state s INCLUDING via suffix links (precomputed, so matching
    never walks the fail chain)."""
    pats = sorted({p.lower() for p in patterns if p})
    goto: List[dict] = [{}]
    nout: List[int] = [0]
    for p in pats:
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                nout.append(0)
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        nout[s] += 1
    fail = [0] * len(goto)
    q = deque()
    for s in goto[0].values():
        q.append(s)
    while q:
        u = q.popleft()
        for ch, v in goto[u].items():
            q.append(v)
            f = fail[u]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[v] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != v else 0
            nout[v] += nout[fail[v]]
    return goto, fail, nout


def ac_count(text: str, ac: Tuple[list, list, list]) -> int:
    """Total occurrences of all patterns in ``text`` (lowercased),
    counting overlaps — the pure core the UDF and tests share."""
    goto, fail, nout = ac
    s = 0
    hits = 0
    for ch in text.lower():
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        hits += nout[s]
    return hits


#: dense transition-table memory guard — past this, the full-DFA table
#: itself becomes a broadcast burden; split the pattern list instead
MAX_DENSE_BYTES = 1 << 30


def build_ac_dense(patterns: Iterable[str]):
    """Flatten the AC automaton into dense numpy tables over the
    OBSERVED byte alphabet, fail links resolved into the transitions
    (a full DFA): stepping is one gather, no while-loop, no dicts.

    Matching runs on UTF-8 BYTES: for valid UTF-8, substring
    occurrence counts are identical at byte and char level (lead and
    continuation bytes occupy disjoint ranges, so a pattern's byte
    string can only align on character boundaries) — and the byte
    alphabet bounds the table width at 257 columns no matter the
    script.

    Returns ``(delta, nout, remap, ov)`` or ``None`` when there are no
    patterns:

    * ``delta`` — int32 ``[n_states, n_codes + 1]``; last column is
      the shared OTHER code every unobserved byte maps to (→ state 0).
    * ``nout`` — int64 per-state pattern-end counts, suffix links
      precomputed (same contract as ``build_ac``).
    * ``remap`` — uint16[256] byte → column code (uint16 so
      ``remap.take(bytes, out=G_slice)`` writes codes straight into
      the packed uint16 layout, no temporaries).
    * ``ov`` — max pattern byte length − 1: the left-context overlap
      the windowed batch kernel needs for exact cross-window matches.
    """
    import numpy as np

    pats = sorted({p.lower().encode("utf-8") for p in patterns if p})
    if not pats:
        return None
    goto: List[dict] = [{}]
    ends: List[int] = [0]
    for p in pats:
        s = 0
        for b in p:
            nxt = goto[s].get(b)
            if nxt is None:
                goto.append({})
                ends.append(0)
                nxt = len(goto) - 1
                goto[s][b] = nxt
            s = nxt
        ends[s] += 1
    n = len(goto)
    alphabet = sorted({b for g in goto for b in g})
    W = len(alphabet) + 1  # + the OTHER column
    if n * W * 4 > MAX_DENSE_BYTES:
        raise ValueError(
            f"dense AC table would need {n * W * 4 >> 20} MiB "
            f"({n} states x {W} byte codes); split the pattern list "
            "across several phrase_hits_udf passes"
        )
    remap = np.full(256, W - 1, dtype=np.uint16)
    for i, b in enumerate(alphabet):
        remap[b] = i
    delta = np.zeros((n, W), dtype=np.int32)
    nout = np.array(ends, dtype=np.int64)
    fail = [0] * n
    q = deque()
    for b, v in goto[0].items():
        delta[0, remap[b]] = v
        q.append(v)
    # BFS: a state's row starts as a COPY of its (already finalized,
    # strictly shallower) fail state's row, then its own goto edges
    # overwrite — the classic fail-link → full-DFA resolution
    while q:
        u = q.popleft()
        nout[u] += nout[fail[u]]
        row = delta[fail[u]].copy()
        for b, v in goto[u].items():
            c = remap[b]
            fail[v] = row[c]
            row[c] = v
            q.append(v)
        delta[u] = row
    ov = max(len(p) for p in pats) - 1
    return delta, nout, remap, ov


def _tiled_transpose(src, out=None, tile: int = 128):
    """``src.T`` copied in ``tile``×``tile`` blocks (into ``out`` when
    given). A naive ``.T.copy()`` walks one full row-stride per element
    (for seg-aligned window views that stride is ~the page size: every
    access a TLB/cache miss — measured ~10× slower than this); tiles
    keep both source and destination runs cache-resident."""
    import numpy as np

    r, c = src.shape
    dst = np.empty((c, r), dtype=src.dtype) if out is None else out
    for i in range(0, r, tile):
        i1 = min(r, i + tile)
        for j in range(0, c, tile):
            j1 = min(c, j + tile)
            dst[j:j1, i:i1] = src[i:i1, j:j1].T
    return dst


#: per-worker reusable buffers for ac_count_batch, keyed by
#: (seg_len, block_rows). Fresh 10s-of-MB allocations per Arrow batch
#: spend more time in first-touch page faults than in the scan itself
#: (measured: calls 2-3 ran 4x slower than steady state before this);
#: a python worker is single-threaded, so a module-level cache is safe.
_BATCH_BUFS: dict = {}


def ac_count_batch(texts, dense, seg_len: int = 512, block_rows: int = 8192):
    """Occurrence counts for a whole batch of texts at once — the
    vectorized twin of ``ac_count`` (identical results; the fuzz test
    holds both to the naive oracle).

    PACKED lockstep windowing. All texts (lowercased, UTF-8) are laid
    into ONE code array ``G``, each text preceded by ``ov`` OTHER
    bytes (OTHER transitions to state 0, so the separator both
    isolates texts — no cross-text phantom matches — and supplies
    neutral left context). ``G`` is then viewed as overlapping windows
    of ``ov + seg_len`` codes advancing by ``seg_len``: window ``r`` =
    ``G[r·seg : r·seg + ov + seg]``. Any match spans ≤ ov+1 bytes, so
    scanning each window from state 0 and counting only at columns ≥
    ``ov`` visits every G position exactly once with full context —
    which makes all windows INDEPENDENT and the scan data-parallel:
    one column at a time, two numpy gathers advance thousands of
    windows at once. Because the layout is packed, total scanned cells
    ≈ total text bytes regardless of document length mix (a 100-byte
    tweet costs 100 cells, not a padded 2 KB row; a 1 MB page just
    contributes more rows instead of serializing a Python loop).

    Attribution: per-position pattern-end counts are stored (they lie
    in G order after a transpose), and one ``add.reduceat`` over the
    interleaved text start/end boundaries yields every text's sum —
    fully vectorized.

    Both transposes run TILED (``_tiled_transpose``): a naive
    ``.T.copy()`` of the window view walks ``seg_len``-stride (≈ page
    size) jumps — measured ~10× slower than tile-blocked copies.

    ``block_rows`` caps in-flight memory (~rows × (ov+seg_len) × 5 B);
    windows are independent, so blocks carry no state.
    """
    import numpy as np

    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    if dense is None or n == 0:
        return out
    delta, nout, remap, ov = dense
    W = delta.shape[1]
    flat = delta.ravel()
    other = W - 1
    seg_len = max(seg_len, ov, 1)
    width = ov + seg_len

    bs = [(t or "").lower().encode("utf-8") for t in texts]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    total_bytes = int(lens.sum())
    if total_bytes == 0:
        return out
    # text i occupies G[starts[i] : starts[i]+lens[i]]
    starts = np.cumsum(ov + lens) - lens
    ends = starts + lens
    total = int(ends[-1])
    nseg = -(-total // seg_len)

    # ---- reusable buffers (see _BATCH_BUFS); width depends on the
    # pattern set's ov, so it must be part of the key
    key = (seg_len, block_rows, width)
    bufs = _BATCH_BUFS.get(key)
    if bufs is None or len(bufs["G"]) < nseg * seg_len + ov:
        cap = max(nseg * seg_len + ov, 1 << 20)
        bufs = {
            "G": np.empty(cap, dtype=np.uint16),
            "MT": np.empty((width, block_rows), dtype=np.uint16),
            "HPT": np.empty((seg_len, block_rows), dtype=np.uint8),
            "hp": np.empty(seg_len * block_rows + 1, dtype=np.uint8),
            "S": np.empty(block_rows, dtype=np.int32),
            "idx": np.empty(block_rows, dtype=np.int32),
        }
        if len(_BATCH_BUFS) >= 8:       # tests sweep many seg_lens
            _BATCH_BUFS.clear()
        _BATCH_BUFS[key] = bufs

    G = bufs["G"][: nseg * seg_len + ov]
    G[:] = other
    if total_bytes >= 512 * n:
        # long texts: one in-place remap straight into G per text
        # (per-text numpy-call cost ~4 µs amortizes past ~0.5 KB)
        for i in range(n):
            m = int(lens[i])
            if m:
                s = int(starts[i])
                np.take(
                    remap, np.frombuffer(bs[i], dtype=np.uint8), out=G[s : s + m]
                )
    else:
        # many short texts: per-text numpy-call overhead dominates —
        # bulk remap of the joined bytes, then ONE fancy scatter over
        # the separator-shifted destination indexes
        all_codes = remap.take(np.frombuffer(b"".join(bs), dtype=np.uint8))
        shift = starts - (np.cumsum(lens) - lens)
        G[np.repeat(shift, lens) + np.arange(total_bytes)] = all_codes
    win = np.lib.stride_tricks.as_strided(
        G,
        shape=(nseg, width),
        strides=(seg_len * G.strides[0], G.strides[0]),
    )

    # per-position counts fit uint8 when no position ends > 255
    # patterns (a position ends at most one pattern per distinct
    # suffix-chain length); fall back to int32 on monster lists
    if int(nout.max()) <= 255:
        nout_c, hp_all = nout.astype(np.uint8), bufs["hp"]
    else:
        nout_c = nout.astype(np.int32)
        hp_all = np.empty(seg_len * block_rows + 1, dtype=np.int32)

    for r0 in range(0, nseg, block_rows):
        r1 = min(nseg, r0 + block_rows)
        g = r1 - r0
        # tiled transpose-copy: contiguous columns for the gather loop
        MT = _tiled_transpose(win[r0:r1], out=bufs["MT"][:, :g])
        S = bufs["S"][:g]
        S[:] = 0
        idx = bufs["idx"][:g]
        HPT = bufs["HPT"][:, :g] if nout_c.dtype == np.uint8 else np.empty(
            (seg_len, g), dtype=np.int32
        )
        for col in range(ov):            # context: advance, don't count
            np.multiply(S, W, out=idx)
            np.add(idx, MT[col], out=idx)
            np.take(flat, idx, out=S)
        for col in range(ov, width):     # proper region: record ends
            np.multiply(S, W, out=idx)
            np.add(idx, MT[col], out=idx)
            np.take(flat, idx, out=S)
            np.take(nout_c, S, out=HPT[col - ov])
        # HPT[col, row] holds the count at G position r0·seg + ov +
        # row·seg + col → transposing to [row, col] and raveling is G
        # order; reduceat over interleaved (start, end) boundaries
        # sums each text slice (odd slots are separators — discarded)
        hp = hp_all[: g * seg_len + 1]
        _tiled_transpose(HPT, out=hp[:-1].reshape(g, seg_len))
        hp[-1] = 0                       # boundary == g·seg is legal
        base = r0 * seg_len + ov         # G position of hp[0]
        hi = base + g * seg_len
        i0 = int(np.searchsorted(ends, base, side="right"))
        i1 = int(np.searchsorted(starts, hi, side="left"))
        if i0 < i1:
            bounds = np.empty(2 * (i1 - i0), dtype=np.int64)
            bounds[0::2] = np.clip(starts[i0:i1], base, hi) - base
            bounds[1::2] = np.clip(ends[i0:i1], base, hi) - base
            sums = np.add.reduceat(hp, bounds, dtype=np.int64)[0::2]
            # reduceat quirk: an empty slice (bounds[i] >= bounds[i+1])
            # returns hp[bounds[i]] instead of 0 — mask those out
            empty = bounds[0::2] >= bounds[1::2]
            if empty.any():
                sums = np.where(empty, 0, sums)
            out[i0:i1] += sums
    return out


def phrase_hits_udf(patterns: Iterable[str]):
    """``arrow_udf``: text → BIGINT occurrence count over all patterns
    (vectorized dense-DFA batch kernel — see ``ac_count_batch``)."""
    dense = build_ac_dense(patterns)

    def _hits(texts: pa.Array) -> pa.Array:
        return pa.array(ac_count_batch(texts.to_pylist(), dense), pa.int64())

    return F.arrow_udf(_hits, "bigint")


def badword_stats(
    df: DataFrame,
    words: Iterable[str],
    phrases: Iterable[str] = (),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, has_blocked_word, phrase_hits, blocked): word-set flag
    (JVM) + phrase occurrence count (AC UDF, skipped entirely when
    ``phrases`` is empty); ``blocked`` = either trips."""
    word_flag = blocked_word_col(text_col, words)
    phrases = list(phrases)
    hits = (
        phrase_hits_udf(phrases)(F.col(text_col))
        if phrases
        else F.lit(0).cast("long")
    )
    return df.select(
        F.col(id_col),
        word_flag.alias("has_blocked_word"),
        hits.alias("phrase_hits"),
    ).withColumn(
        "blocked", F.col("has_blocked_word") | (F.col("phrase_hits") > 0)
    )
