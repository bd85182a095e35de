"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

All deterministic (hash-based, no RNG), all shuffle-conscious:

* exact: one hash-aggregate on a fingerprint column — the canonical
  web-dedup first pass (URL- or content-keyed);
* n-gram Jaccard: exact pairwise similarity over hashed shingle sets —
  uncapped, block-pair local counting (each doc replicated to its B
  block-pair groups, one ``applyInArrow`` counter per group); capped,
  the shingle posting lists with vectorized pair emission — never a
  cross join;
* MinHash+LSH: ONE fused pandas-UDF pass computes band keys + the
  shingle hash set; the hash sets ride in the capped band-bucket
  groups, and each candidate pair is verified by exact Jaccard inside
  its group's emission — the scale path (Broder 1997;
  Leskovec/Rajaraman/Ullman ch.3);
* SimHash (Charikar 2002; Manku et al. WWW'07): 64-bit signature via a
  vectorized pandas UDF, near-dup = Hamming distance ≤ k emitted from
  capped rotated-band-key groups;
* embedding cosine: exact blocked-GEMM all-pairs
  (``embedding_near_dups_blocked``); the LSH-bucketed scale path is
  ``similarity.hyperplane_lsh_join``.

Every pair emitter — the capped n-gram posting lists, MinHash band
buckets, SimHash band groups, ``similarity.hyperplane_lsh_join``'s
table buckets (all through ``_emit_group_pairs`` under ``mapInArrow``)
and the uncapped block-pair counter — draws its pairs from one
in-run generator, ``_run_pairs``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from contessa_spark.hashing import FNV64_BASIS, FNV64_PRIME, fnv1a, gram_hashes, splitmix64


def _cap_groups(
    groups: DataFrame, list_col: str, max_df: Optional[int], observation=None
) -> DataFrame:
    """Document-frequency cap for pair-emitting group passes.

    Pair emission from a posting list / band bucket is O(|group|²): one
    shingle or band key shared by 10⁶ docs would emit 5·10¹¹ pairs from
    a single group — the only quadratic blowup in these plans at web
    scale. Groups larger than ``max_df`` are DROPPED before emission
    (standard practice: a shingle common to millions of documents
    carries no near-duplicate signal, and a band bucket that hot is an
    exact-dup cluster that ``exact_dedup`` should have removed first).

    Pass a ``pyspark.sql.Observation`` to get, after the first action,
    ``dropped_groups`` and ``dropped_postings`` — what was dropped is
    never silent.
    """
    if max_df is None:
        return groups
    if observation is not None:
        groups = groups.observe(
            observation,
            F.count(F.when(F.size(list_col) > max_df, 1)).alias("dropped_groups"),
            F.coalesce(
                F.sum(F.when(F.size(list_col) > max_df, F.size(list_col))),
                F.lit(0),
            ).alias("dropped_postings"),
        )
    return groups.where(F.size(list_col) <= max_df)


def _run_pairs(start, L, first=0):
    """The in-run pair generator every pair emitter shares: position
    ``first + i`` pairs with the ``L[i]`` positions ``start[i],
    start[i] + 1, …`` (earlier positions of its run). Returns the
    ``(x, y)`` position arrays, ``x < y``, all numpy — no per-group
    loop and no cached triangle indices. int32 wherever it fits:
    the transient pair arrays set a worker's peak RSS."""
    import numpy as np

    tot = int(L.sum())
    dt = np.int32 if max(first + len(L), tot) < (1 << 31) else np.int64
    y = np.repeat(np.arange(first, first + len(L), dtype=dt), L)
    base = (np.cumsum(L) - L).astype(dt)
    x = np.arange(tot, dtype=dt) - np.repeat(base, L) + np.repeat(start.astype(dt), L)
    return x, y


def _id_pairs(cols, x, y):
    ids = cols["_id"]
    return {"id_a": ids[x], "id_b": ids[y]}


def _distinct_pairs(ids, x, y):
    """A batch's pairs once each: lexsort by (``ids[x]``, ``ids[y]``)
    and keep each run's first pair. Returns ``(x, y, count)`` — the
    distinct pairs' positions in id order and how often each was
    emitted. A near-dup pair repeats in every group it shares (every
    shingle posting list, every band bucket), and each repeat would
    otherwise cross the Arrow boundary as its own row."""
    import numpy as np

    ia, ib = ids[x], ids[y]
    order = np.lexsort((ib, ia))
    ia, ib, x, y = ia[order], ib[order], x[order], y[order]
    new = np.ones(len(ia), dtype=bool)
    np.logical_or(ia[1:] != ia[:-1], ib[1:] != ib[:-1], out=new[1:])
    idx = np.flatnonzero(new)
    return x[idx], y[idx], np.diff(np.append(idx, len(ia)))


def _emit_group_pairs(step=_id_pairs):
    """``mapInArrow`` body over one ``collect_list`` column — of ``_id``
    or of ``struct(_id, *payload)`` — holding one group per row (a
    posting list, band bucket or LSH table bucket). Reads the list's
    offsets and child arrays, lexsorts by (group, id), drops repeated
    (group, id) entries and pairs every group's upper triangle
    (``id_a < id_b``) through ``_run_pairs``.

    ``step(cols, x, y)`` turns a batch's pairs into output columns:
    ``cols`` maps ``_id`` and every payload field to its sorted, deduped
    values, and ``x``/``y`` index them. Default: ``(id_a, id_b)``. Pairs
    repeat across groups; callers aggregate or ``distinct()``."""

    def emit(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            lists = b.column(0)
            flat = pc.list_flatten(lists)
            if pa.types.is_struct(flat.type):
                cols = {
                    f.name: a.to_numpy(zero_copy_only=False)
                    for f, a in zip(flat.type, flat.flatten())
                }
            else:
                cols = {"_id": flat.to_numpy(zero_copy_only=False)}
            lens = pc.list_value_length(lists).to_numpy(zero_copy_only=False)
            grp = np.repeat(np.arange(len(lens)), lens)
            # the id column may be int: output ids are declared long
            ids = cols["_id"] = cols["_id"].astype(np.int64, copy=False)
            order = np.lexsort((ids, grp))
            grp, ids = grp[order], ids[order]
            keep = np.ones(len(ids), dtype=bool)
            np.logical_or(grp[1:] != grp[:-1], ids[1:] != ids[:-1], out=keep[1:])
            order, grp = order[keep], grp[keep]
            cols = {n: v[order] for n, v in cols.items()}
            newrun = np.ones(len(grp), dtype=bool)
            np.not_equal(grp[1:], grp[:-1], out=newrun[1:])
            start = np.flatnonzero(newrun)[np.cumsum(newrun) - 1]
            x, y = _run_pairs(start, np.arange(len(grp)) - start)
            out = step(cols, x, y)
            yield pa.RecordBatch.from_arrays(
                [pa.array(v) for v in out.values()], names=list(out)
            )

    return emit


# ---------------------------------------------------------------- exact

def fingerprint_col(text_col: str = "text") -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-collapsed text. JVM-side."""
    c = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(c)), r"(?U)\s+", " ")
    return F.md5(norm.cast("binary"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct normalized text.

    One shuffle on the fingerprint (hash partitioning); AQE coalesces
    and splits skewed groups. At 100 TB: fingerprint is 16 bytes/row —
    the shuffle moves fingerprints + ids only if you project first,
    which this does (join back for payload).
    """
    fp = df.select(F.col(id_col), fingerprint_col(text_col).alias("fp"))
    keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col)).drop("fp")
    return df.join(keep, id_col, "left_semi")


def dedup_doc_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document exact line dedup (the C4 §2.2 'discard all but
    one of any three-sentence span' family / Gopher repetition hygiene,
    in its exact-line form): keep the FIRST occurrence of every exact
    line, preserving document order.

    Pure per-row JVM — split → array_distinct (first-occurrence order)
    → rejoin; no shuffle, whole-stage codegen. The cheap first pass
    that runs before any corpus-level dedup: boilerplate nav/footer
    lines repeated inside a page vanish here for free.
    Output: (id, clean_text, n_lines, n_dupe_lines)."""
    lines = F.split(F.col(text_col), "\n")
    uniq = F.array_distinct(lines)
    return df.select(
        F.col(id_col),
        F.concat_ws("\n", uniq).alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        (F.size(lines) - F.size(uniq)).cast("long").alias("n_dupe_lines"),
    )


def corpus_line_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CROSS-document exact line dedup (the RefinedWeb/CCNet-style
    corpus pass; C4 §2.2's three-sentence-span rule in its exact-line
    form): every distinct line survives exactly ONCE in the whole
    corpus — at its globally first occurrence, ordered by
    (doc_id, line_idx) — and every later occurrence is dropped; docs
    are rebuilt preserving their internal line order.

    Plan, shaped for the hot-line hazard: a boilerplate line ("", nav
    text) occurs in ~every doc, so a window partitioned by line would
    funnel 10¹² rows into one partition. Instead the global first
    occurrence is ``min(struct(doc_id, idx))`` per line — a hash
    aggregate with MAP-SIDE partial combine, so hot lines reduce to one
    row per partition before the shuffle — followed by a join back on
    the line (one row per distinct line on the build side; AQE
    skew-join splits the probe side if needed) and a rebuild groupBy on
    the doc id. Three shuffles total, none unbounded.

    Output: (id, clean_text, n_lines, n_kept).
    """
    return _corpus_span_dedup(
        df, F.split(F.col(text_col), "\n"), "\n", id_col, "n_lines"
    )


#: sentence boundary sentinel (RS control char — never occurs in text);
#: boundaries are MARKED then split because RE2 (the DuckDB oracle
#: engine) has no lookbehind, so a shared ``(?<=[.!?])\s+`` split
#: pattern is not engine-portable
_SENT_SEP = "\u001e"


def sentence_split_col(text_col: str = "text") -> Column:
    r"""array<string> of sentences: terminator [.!?] + whitespace ends
    a sentence (trailing punctuation kept; the final fragment counts
    even unterminated). Same (?U)\s whitespace contract as the
    tokenizers;
    deliberately simple — deterministic and SQL-reproducible, not a
    learned splitter."""
    # strip any pre-existing RS control chars first: the sentinel must
    # be unambiguous even against adversarial input (mirrored in the
    # SQL oracle)
    cleaned = F.replace(F.col(text_col), F.lit(_SENT_SEP), F.lit(""))
    marked = F.regexp_replace(cleaned, r"(?U)([.!?])(\s+)", "$1" + _SENT_SEP)
    # text ending in terminator+whitespace ('Hello. ') leaves a trailing
    # EMPTY span after the split, inflating n_sentences and letting ''
    # join cross-document dedup; RE2 (the oracle engine) has no
    # lookahead to anchor the marker, so filter empties instead
    # (mirrored in the SQL oracle's list_filter)
    return F.filter(F.split(marked, _SENT_SEP), lambda x: x != "")


def corpus_sentence_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CROSS-document exact SENTENCE dedup — ``corpus_line_dedup`` at
    sentence granularity (closer to C4 §2.2's actual sentence-span
    unit than lines): every distinct sentence survives once at its
    global first occurrence; docs rebuild with single spaces. Same
    hot-span-safe min(struct) plan — see ``corpus_line_dedup``.
    Output: (id, clean_text, n_sentences, n_kept)."""
    return _corpus_span_dedup(
        df, sentence_split_col(text_col), " ", id_col, "n_sentences"
    )


def _corpus_span_dedup(
    df: DataFrame,
    spans_col: Column,
    join_sep: str,
    id_col: str,
    count_alias: str,
) -> DataFrame:
    # The first-occurrence aggregate and its join back run on a 128-bit
    # span FINGERPRINT (two independent xxhash64 seeds — 16 bytes), not
    # the span text: at web scale the distinct-span table is
    # corpus-sized text, and hashing the group/build keys keeps both
    # the map-side combine state and the build-side shuffle narrow. The
    # raw span travels only on the probe side, where the rebuild needs
    # it anyway. 128 bits ⇒ collision odds ~n²/2¹²⁹ (≪1 even at 10¹²
    # distinct spans).
    spans = df.select(
        F.col(id_col), F.posexplode(spans_col).alias("idx", "span")
    ).withColumns(
        {
            "_h1": F.xxhash64(F.col("span")),
            "_h2": F.xxhash64(F.col("span"), F.lit(0x5EED)),
        }
    )
    firsts = spans.groupBy("_h1", "_h2").agg(
        F.min(F.struct(F.col(id_col), F.col("idx"))).alias("_first")
    )
    kept = (
        spans.join(firsts, ["_h1", "_h2"])
        .where(
            (F.col(f"_first.{id_col}") == F.col(id_col))
            & (F.col("_first.idx") == F.col("idx"))
        )
        .select(id_col, "idx", "span")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            join_sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "span"))),
                lambda s: s["span"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    base = df.select(
        F.col(id_col), F.size(spans_col).cast("long").alias(count_alias)
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        count_alias,
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )


# ------------------------------------------------------------- shingles

def _lower_words(texts):
    """Whitespace-split lowered words of each (possibly NULL) text."""
    return [t.lower().split() if isinstance(t, str) else [] for t in texts]


def _segment_unique(flat, lens):
    """Per-doc sorted-unique over a flat (uint64) batch array: one
    lexsort + run-boundary mask instead of one ``np.unique`` call per
    doc. Returns a list of int64 arrays (unsigned sort order then
    int64 view — exactly ``np.unique(raw).view(int64)``)."""
    import numpy as np

    n_docs = len(lens)
    if len(flat) == 0:
        empty = np.empty(0, dtype=np.int64)
        return [empty] * n_docs
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    order = np.lexsort((flat, doc_of))
    fs = flat[order]
    ds = doc_of[order]
    keep = np.empty(len(fs), dtype=bool)
    keep[0] = True
    np.logical_or(ds[1:] != ds[:-1], fs[1:] != fs[:-1], out=keep[1:])
    vals = fs[keep].view(np.int64)
    counts = np.bincount(ds[keep], minlength=n_docs)
    return np.split(vals, np.cumsum(counts)[:-1])


def hashed_shingles_udf(k: int = 3):
    """pandas UDF: text → struct(hs: array<long> distinct FNV-64
    shingle hashes, n: int = len(hs)). The inverted-index shuffle then
    carries 8-byte longs instead of ~20-byte gram strings — ~2× fewer
    shuffle bytes on the posting lists, which dominate the
    exact-Jaccard plan at scale. Jaccard over the hash sets equals
    Jaccard over the string sets unless two distinct shingles of the
    SAME doc pair FNV-collide (~2⁻⁶⁴ per pair of distinct shingles —
    negligible).

    ``n`` rides in the struct instead of a downstream ``size(_sh)``
    projection: collapsing ``size`` into the UDF's projection made the
    optimizer materialize a SECOND ``ArrowEvalPython`` below the
    spread exchange (guide §4.4's duplicated-UDF trap) — the capped
    path then ran the whole shingle pass twice, once single-core.
    Struct first, fields second (the established in-repo pattern)
    keeps it one eval.

    Hashing is one ``gram_hashes`` call per Arrow batch over the
    lowered words; ``_segment_unique`` then drops repeated grams."""
    import pandas as pd
    from pyspark.sql import types as T

    def _hs(texts):
        hs = _segment_unique(*gram_hashes(_lower_words(texts), k))
        return pd.DataFrame({"hs": hs, "n": [len(a) for a in hs]})

    _hs.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(
        _hs,
        T.StructType(
            [
                T.StructField("hs", T.ArrayType(T.LongType())),
                T.StructField("n", T.IntegerType()),
            ]
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_df: Optional[int] = None,
    observation=None,
    block_docs: int = 4096,
    n_docs: Optional[int] = None,
) -> DataFrame:
    """Exact Jaccard over word-k-gram shingle sets for every pair
    sharing ≥1 shingle. ``n_docs`` (uncapped path only): corpus row
    count if already known — skips the block-count job.

    Two physical strategies, same output:

    * **uncapped** (``max_df=None``): block-pair local intersection
      counting. Docs are hashed into B blocks (B scale-adaptive from
      the corpus size, ≤ ``block_docs`` docs per block); each doc's
      hashed shingle set is replicated to its B block-pairs and every
      unordered doc pair is counted in exactly ONE block-pair task with
      vectorized numpy (sort → run-length pair emission → unique-sum).
      Sub-threshold pairs never leave Python: there is NO per-pair
      shuffle and no JVM hash aggregate over the O(Σ df²) coincidence
      rows — on a fixed-vocabulary corpus that aggregate dominates the
      old inverted-index plan and grows quadratically with corpus size,
      while this plan shuffles only B× the (hashed, ~40 B/doc)
      signature table. The per-pair *counting* work is the same
      O(Σ df²) either way — inherent to exact all-pairs — but runs at
      numpy memory bandwidth instead of one shuffled row per
      coincidence.
    * **capped** (``max_df`` set — recommended at scale, e.g. 500):
      the shingle inverted index (explode → group by shingle → capped
      pair emission), because the cap semantics are defined on posting
      lists: lists longer than ``max_df`` are DROPPED before pair
      emission — see ``_cap_groups``. With a cap, pairs whose overlap
      includes a dropped hot shingle undercount ``common`` (recall-only
      loss; the reported jaccard of surviving pairs is a lower bound).

    Both paths carry FNV-64 shingle HASHES (``hashed_shingles_udf``) —
    value-identical output up to ~2⁻⁶⁴ within-pair collisions — and
    both compute the final jaccard/round in the same Spark expressions.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    if max_df is None:
        return _ngram_jaccard_pairs_blocked(
            df, id_col, text_col, k, threshold, block_docs, n_docs
        )
    # asNondeterministic (guide §4.4): deterministic python UDF
    # projections get PUSHED THROUGH the caller's round-robin spread
    # exchange and then re-extracted above it — two ArrowEvalPython
    # nodes, with the below-exchange one running on the unspread
    # (often single-split) scan. The UDF is pure; the marking only
    # pins its evaluation above the exchange (verified: 2 nodes → 1).
    sh = df.select(
        F.col(id_col).alias("_id"),
        hashed_shingles_udf(k).asNondeterministic()(F.col(text_col)).alias("_t"),
    ).select(
        "_id", F.col("_t.hs").alias("_sh"), F.col("_t.n").alias("_n")
    )
    inv = sh.select("_id", "_n", F.explode("_sh").alias("_s"))
    # pairs generated per shingle GROUP (collect the posting list, emit
    # id pairs) — single pass over the inverted index, no self-join, so
    # the (UDF-computed) shingles are evaluated exactly once
    groups = (
        inv.groupBy("_s")
        .agg(F.collect_list(F.struct("_id", "_n")).alias("_docs"))
        .where(F.size("_docs") > 1)
        .select("_docs")
    )
    groups = _cap_groups(groups, "_docs", max_df, observation)

    def partial_counts(cols, x, y):
        # Pairs are PARTIALLY COUNTED per Arrow batch before leaving
        # Python: a near-dup pair at threshold 0.1 shares hundreds of
        # shingles, so the batch emits it hundreds of times. The
        # downstream groupBy sums the partial counts — identical
        # `common`, ~an order of magnitude fewer Python→JVM rows on
        # near-dup-dense corpora.
        ids, ns = cols["_id"], cols["_n"]
        x, y, cnt = _distinct_pairs(ids, x, y)
        return {"id_a": ids[x], "id_b": ids[y], "na": ns[x], "nb": ns[y], "cnt": cnt}

    pairs = (
        groups.mapInArrow(
            _emit_group_pairs(partial_counts),
            schema="id_a long, id_b long, na int, nb int, cnt long",
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.sum("cnt").alias("common"))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of one IntegerType value (Murmur3_x86_32
    ``hashInt`` with Spark's default seed 42), as a signed int32 —
    lets the driver predict ``pmod(hash(col), n)`` partition placement
    for int columns. Checked against ``F.hash`` in tests."""
    M = 0xFFFFFFFF

    def rotl(v: int, r: int) -> int:
        return ((v << r) | (v >> (32 - r))) & M

    k1 = (x * 0xCC9E2D51) & M
    k1 = rotl(k1, 15)
    k1 = (k1 * 0x1B873593) & M
    h1 = seed & M
    h1 ^= k1
    h1 = rotl(h1, 13)
    h1 = (h1 * 5 + 0xE6546B64) & M
    h1 ^= 4  # fmix: len in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


#: largest block-pair group count the uncapped Jaccard counter LPT-packs
#: onto ``defaultParallelism`` partitions; above it the group index is
#: hashed
_LPT_MAX_GROUPS = 4096


def _partition_target_values(n: int) -> list:
    """For each partition p in 0..n-1, a small int v with
    ``pmod(murmur3(v), n) == p`` — i.e. a column value Spark's hash
    partitioner provably routes to partition p. Brute-force scan;
    expected n·H(n) ≈ n·ln n murmur evaluations (microseconds for the
    ≤4096 group counts this is used at)."""
    out = [None] * n
    found = 0
    v = 0
    while found < n:
        p = _murmur3_int(v) % n
        if out[p] is None:
            out[p] = v
            found += 1
        v += 1
    return out


def _count_block_pair(
    ids, ns, side, hcat, lens, diag, threshold, chunk_pairs=1 << 21
):
    """Count |A∩B| for every doc pair of one block-pair group sharing
    ≥1 shingle hash, threshold locally, and return only passing pairs
    as (id_a, id_b, common, na, nb) numpy arrays.

    All vectorized: one argsort of the group's concatenated hash arrays
    → equal-hash runs → every in-run position pair x < y from
    ``_run_pairs``, ``chunk_pairs`` pairs at a time so a degenerate
    clone-cluster group can't materialize O(m²·s) pairs at once →
    unique-sum on the (u·m+v) pair key. Off-diagonal block-pairs keep
    only cross-side pairs (same-side pairs belong to that block's own
    diagonal group). Chunk results are accumulated in a pending list
    and merged GEOMETRICALLY (only once pending reaches the aggregate's
    size), never by re-sorting the whole aggregate after every chunk.

    The threshold prefilter uses the same float64 division Spark
    applies downstream, so the pass/fail set is bit-identical; the
    emitted integers let Spark recompute jaccard with the exact
    expression (and rounding) the capped path uses.
    """
    import numpy as np

    m = len(ids)
    empty = (
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, np.int32),
        np.empty(0, np.int32),
    )
    # int32 positions/keys where m² < 2³¹ (always at the default
    # block_docs): halves the transient chunk arrays, which set the
    # worker's peak RSS
    dt = np.int32 if m <= 46340 else np.int64
    dcat = np.repeat(np.arange(m, dtype=dt), lens)
    if diag:
        order = np.argsort(hcat, kind="stable")
    else:
        # within each run: side-0 elements first, then side-1 —
        # lets L below emit ONLY cross-side pairs (no same-side
        # waste; same-side pairs belong to the diagonal tasks)
        order = np.lexsort((side[dcat], hcat))
    hsorted = hcat[order]
    dsorted = dcat[order]  # ascending row idx within each run
    N = len(hsorted)
    newrun = np.ones(N, dtype=bool)
    np.not_equal(hsorted[1:], hsorted[:-1], out=newrun[1:])
    # start position of each element's run; L = how many earlier
    # in-run elements each position pairs with
    run_start = np.flatnonzero(newrun)
    start_pos = run_start[np.cumsum(newrun) - 1]
    if diag:
        L = np.arange(N, dtype=np.int64) - start_pos
    else:
        # side-1 positions pair with every side-0 element of their
        # run (all earlier by the lexsort); side-0 positions emit 0
        s1 = side[dsorted]
        cz = np.concatenate(([0], np.cumsum(s1 == 0, dtype=np.int64)))
        run_len = np.diff(np.append(run_start, N))
        n0_per_run = cz[run_start + run_len] - cz[run_start]
        L = np.where(s1 == 1, n0_per_run[np.cumsum(newrun) - 1], 0)
    csum = np.concatenate(([0], np.cumsum(L)))
    if int(csum[-1]) == 0:
        return empty

    def _merge(arrs_k, arrs_c):
        allk = np.concatenate(arrs_k)
        allc = np.concatenate(arrs_c)
        o = np.argsort(allk, kind="stable")
        allk, allc = allk[o], allc[o]
        nr = np.empty(len(allk), dtype=bool)
        nr[0] = True
        np.not_equal(allk[1:], allk[:-1], out=nr[1:])
        idx = np.flatnonzero(nr)
        return allk[idx], np.add.reduceat(allc, idx)

    agg_k = agg_c = None
    pend_k, pend_c, pend_n = [], [], 0
    pos = 0
    while pos < N:
        end = int(np.searchsorted(csum, csum[pos] + chunk_pairs, "right")) - 1
        end = max(end, pos + 1)
        tot = int(csum[end] - csum[pos])
        pos_prev, pos = pos, end
        if tot == 0:
            continue
        x, y = _run_pairs(start_pos[pos_prev:end], L[pos_prev:end], pos_prev)
        key = dsorted[x] * m + dsorted[y]  # u < v by in-run order
        k, c = np.unique(key, return_counts=True)
        pend_k.append(k)
        pend_c.append(c)
        pend_n += len(k)
        if pend_n >= max(len(agg_k) if agg_k is not None else 0, chunk_pairs):
            if agg_k is not None:
                pend_k.append(agg_k)
                pend_c.append(agg_c)
            agg_k, agg_c = _merge(pend_k, pend_c)
            pend_k, pend_c, pend_n = [], [], 0
    if pend_n:
        if agg_k is not None:
            pend_k.append(agg_k)
            pend_c.append(agg_c)
        agg_k, agg_c = _merge(pend_k, pend_c)
    u = agg_k // m
    v = agg_k % m
    c = agg_c
    na = ns[u]
    nb = ns[v]
    keep = c / (na + nb - c) >= threshold
    u, v, c, na, nb = u[keep], v[keep], c[keep], na[keep], nb[keep]
    if len(u) == 0:
        return empty
    ia = ids[u]
    ib = ids[v]
    return (
        np.minimum(ia, ib),
        np.maximum(ia, ib),
        c.astype(np.int64),
        na.astype(np.int32),
        nb.astype(np.int32),
    )


def _ngram_jaccard_pairs_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
    block_docs: int,
    n_docs: Optional[int] = None,
) -> DataFrame:
    """Uncapped exact-Jaccard pairs via block-pair local counting (see
    ``ngram_jaccard_pairs``). B is derived from the corpus size (one
    cheap column-pruned count — or pass ``n_docs`` when the caller
    already knows it, e.g. from a parquet footer or snapshot stats,
    to skip that job) so blocks stay ≤ ``block_docs`` docs, with a
    parallelism floor of ~√(2·defaultParallelism) blocks (≈ 2× cores
    worth of block-pair tasks) — scale-adaptive, never a constant
    tuned to one cluster size."""
    import math

    sc = df.sparkSession.sparkContext
    if n_docs is None:
        n_docs = df.select(id_col).count()
    b_par = math.ceil(math.sqrt(2 * sc.defaultParallelism))
    B = min(
        max(math.ceil(n_docs / block_docs), b_par),
        max(1, n_docs // 64 + 1),
    )
    sigs = df.select(
        F.col(id_col).alias("_id"),
        hashed_shingles_udf(k).asNondeterministic()(F.col(text_col)).alias("_t"),
    ).select(
        "_id", F.col("_t.hs").alias("_sh"), F.col("_t.n").alias("_n")
    )
    # each doc participates in exactly B block-pairs: (blk, j) as the
    # lower side for j ≥ blk, (j, blk) as the upper side for j < blk
    blk = F.pmod(F.xxhash64(F.col("_id")), F.lit(B)).cast("int")
    targets = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda j: F.struct(
            F.least(F.col("_blk"), j).alias("_bi"),
            F.greatest(F.col("_blk"), j).alias("_bj"),
            F.when(F.col("_blk") <= j, F.lit(0)).otherwise(F.lit(1)).alias("_side"),
        ),
    )
    rep = (
        sigs.withColumn("_blk", blk)
        .select("_id", "_sh", "_n", F.explode(targets).alias("_p"))
        .select("_id", "_sh", "_n", "_p.*")
    )
    nG = B * (B + 1) // 2
    n_bins = max(sc.defaultParallelism, 1)
    t_idx = F.expr(f"_bi * {B} - (_bi * (_bi - 1)) DIV 2 + (_bj - _bi)").cast("int")
    if nG <= _LPT_MAX_GROUPS:
        # Pack the nG block-pair groups into EXACTLY defaultParallelism
        # reduce tasks, balanced by predicted pair work (off-diagonal
        # blocks hold 2m docs and ~2× a diagonal's pairs), and place
        # each bin on its own partition via a value Spark's
        # murmur3-mod-n partitioner provably routes there. Plain
        # groupBy hashing stacked 2-5 groups per task (measured 5×
        # min/max skew at sf1.0, worsened by AQE's byte-based
        # coalescing — partition bytes say nothing about O(m²) pair
        # work), and one-group-per-task lost to wave quantization
        # (nG tasks over P cores = ragged ceil(nG/P) waves). LPT
        # packing + explicit placement gives one full wave of
        # near-equal tasks; an explicit numPartitions AQE won't
        # coalesce. At nG ≤ cores every group gets its own task;
        # beyond the limit the law of large numbers makes hashing the
        # group index fine.
        weights = [
            (bi * B - (bi * (bi - 1)) // 2 + (bj - bi), 1 if bi == bj else 2)
            for bi in range(B)
            for bj in range(bi, B)
        ]
        order = sorted(weights, key=lambda tw: -tw[1])
        assign = [0] * nG
        import heapq

        heap = [(0, b) for b in range(n_bins)]
        heapq.heapify(heap)
        for t, w in order:
            load, b = heapq.heappop(heap)
            assign[t] = b
            heapq.heappush(heap, (load + w, b))
        tvals = _partition_target_values(n_bins)
        route = F.element_at(F.lit([tvals[assign[t]] for t in range(nG)]), t_idx + 1)
    else:
        route = t_idx

    def per_group(key, t):
        # one block-pair group: the partition's hash exchange is reused
        # by the grouping (its keys include _pt), so Python holds one
        # group at a time, never a whole bin
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        sh = t.column("_sh")
        res = _count_block_pair(
            t.column("_id").to_numpy().astype(np.int64, copy=False),
            t.column("_n").to_numpy().astype(np.int64),
            t.column("_side").to_numpy(),
            pc.list_flatten(sh).to_numpy(),
            pc.list_value_length(sh).to_numpy().astype(np.int64),
            key[1].as_py() == key[2].as_py(),
            threshold,
        )
        return pa.Table.from_arrays(
            [pa.array(a) for a in res], names=["id_a", "id_b", "common", "na", "nb"]
        )

    cand = (
        rep.withColumn("_pt", route)
        .repartition(n_bins, "_pt")
        .groupBy("_pt", "_bi", "_bj")
        .applyInArrow(
            per_group, schema="id_a long, id_b long, common long, na int, nb int"
        )
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        cand.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------- MinHash+LSH

_MERSENNE = (1 << 61) - 1


def _affine_params(n_hashes: int, seed: int = 1234567):
    """Deterministic (a_j, b_j) pairs for affine minhash permutations."""
    import numpy as np

    a = np.array([splitmix64(seed + 2 * j) % _MERSENNE or 1 for j in range(n_hashes)], dtype=np.uint64)
    b = np.array([splitmix64(seed + 2 * j + 1) % _MERSENNE for j in range(n_hashes)], dtype=np.uint64)
    return a, b


def _batch_band_keys(flat, lens, n_hashes, bands, A, B):
    """Batch minhash → band keys over a flat shingle-hash array.

    For each affine permutation j the whole batch is transformed in one
    vectorized pass and segment-minimized with ``minimum.reduceat``
    (per-doc boundaries), then the per-band FNV-64 fold (from the
    offset basis) runs as uint64 vector ops across ALL docs at once —
    the old per-doc form paid a (n_hashes × n_shingles) allocation per
    doc plus a Python int-boxing loop per band key, which dominated the
    signature UDF. Band keys are only compared for equality, so the
    fold's start value changes key values but not (up to ~2⁻⁶⁴
    collisions) which docs share a key.

    uint64 multiply/add wrap mod 2^64 exactly like a numpy broadcast;
    the final signed key
    ``(acc ^ band) − 2^63`` is computed as the int64 view of
    ``(acc ^ band) ^ 2^63`` (adding/subtracting 2^63 mod 2^64 only
    flips the top bit). Returns an (n_nonempty, bands) int64 matrix for
    the docs with ≥1 shingle, plus the nonzero mask."""
    import numpy as np

    r = n_hashes // bands
    nz = lens > 0
    if not nz.any():
        return np.empty((0, bands), dtype=np.int64), nz
    bounds = np.concatenate(([0], np.cumsum(lens)))
    starts = bounds[:-1][nz]
    base = flat % np.uint64(_MERSENNE)
    n_nz = int(nz.sum())
    sig = np.empty((n_hashes, n_nz), dtype=np.uint64)
    for j in range(n_hashes):
        y = (A[j] * base + B[j]) % np.uint64(_MERSENNE)
        sig[j] = np.minimum.reduceat(y, starts)
    basis = np.uint64(FNV64_BASIS)
    prime = np.uint64(FNV64_PRIME)
    keys = np.empty((bands, n_nz), dtype=np.uint64)
    for i in range(bands):
        acc = np.full(n_nz, basis, dtype=np.uint64)
        for row in range(i * r, (i + 1) * r):
            acc = (acc ^ sig[row]) * prime
        # band index folded in so bands never collide across i
        keys[i] = acc ^ np.uint64(i)
    signed = (keys ^ np.uint64(1 << 63)).view(np.int64)
    return np.ascontiguousarray(signed.T), nz


def lsh_signature_udf(k: int = 3, n_hashes: int = 64, bands: int = 16):
    """pandas UDF: text → struct(keys: array<long> LSH band keys,
    hs: binary — the distinct shingle hashes packed as native int64
    bytes).

    ONE fused pass computes both what the candidate stage needs (band
    keys: FNV-64 shingle hashes → affine minhash family
    ``(a_j·h + b_j) mod (2^61−1)`` → per-band FNV fold, all numpy in
    ``_batch_band_keys``) and what the verify stage needs (the distinct
    FNV-64 shingle hash set): text crosses the JVM↔Python boundary once
    and shingling/hashing runs once, instead of a second shingle UDF
    over candidate docs. Exact Jaccard over the hash sets equals Jaccard
    over the string shingle sets unless two distinct shingles
    FNV-collide (~2⁻⁶⁴ per pair of distinct shingles — negligible even
    at 10¹² docs per doc pair, since only within-pair collisions matter).

    ``hs`` is BINARY rather than array<long>: it is shuffled once per
    band into the band-bucket groups, and an array column costs an
    object per element where the packed form is one byte buffer per
    doc — cheaper to shuffle, collect and Arrow-transfer. The verify
    step reads it back with ``np.frombuffer`` (same machine byte order
    on both sides of the boundary).

    Shingle hashes come from one ``gram_hashes`` call per Arrow batch
    and keep repeated grams: a repeat changes neither a doc's minimum
    under any permutation nor its distinct hash set."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    A, B = _affine_params(n_hashes)

    def _sig(texts):
        flat, lens = gram_hashes(_lower_words(texts), k)
        km, nz = _batch_band_keys(flat, lens, n_hashes, bands, A, B)
        empty = np.empty(0, dtype=np.int64)
        keys_out = [empty] * len(lens)
        for idx, d in enumerate(np.flatnonzero(nz)):
            keys_out[d] = km[idx]
        hs_out = [a.tobytes() for a in _segment_unique(flat, lens)]
        return pd.DataFrame({"keys": keys_out, "hs": hs_out})

    _sig.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(
        _sig,
        T.StructType(
            [
                T.StructField("keys", T.ArrayType(T.LongType())),
                T.StructField("hs", T.BinaryType()),
            ]
        ),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_df: Optional[int] = None,
    observation=None,
) -> DataFrame:
    """MinHash → band → bucket-group → exact-Jaccard verify.

    Collision probability for a pair with Jaccard s is
    1 − (1 − s^r)^b with r = n_hashes/bands rows per band; at
    (64, 16) the S-curve crosses ~0.77 — tuned for threshold 0.8.

    Plan (one UDF pass, one shuffle into band groups, one ``distinct``):
    1. ``lsh_signature_udf`` computes band keys AND the distinct
       shingle-hash set per doc in one fused pass.
    2. Explode the band keys next to ``struct(id, hs)`` → group by key
       → capped pair emission through ``_emit_group_pairs`` (never a
       self-join), as ``simhash_near_dups`` does.
    3. Verify inside the emission: each batch's pairs are deduped
       (``_distinct_pairs``), and each remaining pair's exact
       |A∩B|/|A∪B| is a sorted-array intersection of the two hash sets
       carried in its group — no cached table, no join back, no
       re-shingling. A pair emitted from several bands (or batches)
       gets the same Jaccard every time, so ``distinct()`` leaves one
       row per pair.

    The price is a shuffle that carries each doc's ``hs`` once per band
    it shares a bucket in; nothing stays cached after the result is
    consumed.

    ``max_df`` (recommended at scale) drops band buckets larger than
    that before candidate emission — see ``_cap_groups``. A bucket that
    hot is an exact-dup cluster (run ``exact_dedup`` first) or a
    degenerate band; dropping costs recall only on such clusters. The
    verify is exact: a surviving pair's Jaccard is over its two full
    hash sets, whatever was capped.
    """
    # asNondeterministic, as in ngram_jaccard_pairs: the
    # filter Spark infers from explode (size(_keys) > 0) would otherwise
    # push the pure UDF below the caller's round-robin spread exchange
    # and run it twice (verified: 2 ArrowEvalPython nodes → 1)
    sig = df.select(
        F.col(id_col).alias("_id"),
        lsh_signature_udf(k, n_hashes, bands).asNondeterministic()(F.col(text_col)).alias("_s"),
    ).select("_id", F.col("_s.keys").alias("_keys"), F.col("_s.hs").alias("_hs"))
    groups = (
        sig.select(F.explode("_keys").alias("key"), F.struct("_id", "_hs").alias("_doc"))
        .groupBy("key")
        .agg(F.collect_list("_doc").alias("_docs"))
        .where(F.size("_docs") > 1)
        .select("_docs")
    )
    groups = _cap_groups(groups, "_docs", max_df, observation)

    def jaccard_step(cols, x, y):
        import numpy as np

        ids = cols["_id"]
        x, y, _ = _distinct_pairs(ids, x, y)
        sets = [np.frombuffer(h, dtype=np.int64) for h in cols["_hs"]]
        common = np.fromiter(
            (np.intersect1d(sets[a], sets[b], assume_unique=True).size for a, b in zip(x, y)),
            dtype=np.int64,
            count=len(x),
        )
        n = np.fromiter(map(len, sets), dtype=np.int64, count=len(sets))
        # every doc in a band group has ≥1 shingle, so the union is > 0;
        # same filter-then-round order as ngram_jaccard_pairs: threshold
        # on the raw IEEE ratio, round at the end
        jac = common / (n[x] + n[y] - common)
        m = jac >= threshold
        return {"id_a": ids[x][m], "id_b": ids[y][m], "jaccard": jac[m]}

    pairs = groups.mapInArrow(
        _emit_group_pairs(jaccard_step), schema="id_a long, id_b long, jaccard double"
    ).distinct()
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# -------------------------------------------------------------- SimHash

def _simhash_batch(texts, n_bits: int = 64):
    """Batch core of ``simhash_udf``: int64 simhash per (possibly NULL)
    text. Bit i is set when more than half of the doc's lowered words
    have FNV-64 bit i set (no words → 0); the words of the whole batch
    are hashed in one ``fnv1a`` call and the votes summed per doc."""
    import numpy as np

    words = _lower_words(texts)
    lens = np.fromiter(map(len, words), dtype=np.int64, count=len(words))
    h = fnv1a([w for ws in words for w in ws])
    doc = np.repeat(np.arange(len(words)), lens)
    sig = np.zeros(len(words), dtype=np.uint64)
    for i in range(n_bits):
        ones = np.bincount(doc, weights=(h >> np.uint64(i)) & np.uint64(1), minlength=len(words))
        sig |= (2 * ones > lens).astype(np.uint64) << np.uint64(i)
    # two's-complement into signed 64-bit for Spark LongType
    return sig.view(np.int64)


def simhash_udf(n_bits: int = 64):
    """pandas UDF: text → 64-bit simhash (as long). Word-level FNV
    hashes, bit-majority vote — deterministic."""
    import pandas as pd
    from pyspark.sql import types as T

    def _simhash(texts):
        return pd.Series(_simhash_batch(texts, n_bits))

    _simhash.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(_simhash, T.LongType())


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_df: Optional[int] = None,
    observation=None,
    bands: Optional[int] = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k.

    Block by rotating band keys. The band count ADAPTS to
    ``max_hamming`` (pigeonhole: hamming ≤ k pairs share ≥1 exact band
    iff bands > k): 4×16-bit bands for k ≤ 3, 8×8-bit for k ≤ 7 —
    the coarsest lossless banding, because fewer/wider bands mean
    fewer, colder (band, key) groups. k ≥ 8 keeps 8×8 banding and is
    RECALL-LOSSY (pass ``bands=16`` for lossless ≤ 15, at the cost of
    4-bit keys whose groups run ~N/16 hot — the ``max_df`` cap is then
    mandatory at scale). Pairs are emitted per (band, key) GROUP — the
    same single-pass
    group-emission + ``_cap_groups(max_df)`` pattern as its three
    siblings (ngram/minhash/embedding-LSH), never a row-level
    self-join: a 16-bit key space means a 10¹²-doc corpus averages
    ~10⁷ docs per bucket, and an uncapped bucket join would emit
    ~10¹⁴ pairs per bucket before any Hamming filter. The Hamming
    verify runs vectorized (numpy xor + byte-popcount) INSIDE the
    emission, so only passing pairs ever materialize.
    """
    sh = df.select(F.col(id_col).alias("_id"), simhash_udf()(F.col(text_col)).alias("_sim"))
    if bands is None:
        bands = 4 if max_hamming <= 3 else 8
    width = 64 // bands
    entries = sh.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("_sim"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "_sim", "bk.band", "bk.key")
    groups = (
        entries.groupBy("band", "key")
        .agg(F.collect_list(F.struct("_id", "_sim")).alias("_docs"))
        .where(F.size("_docs") > 1)
        .select("_docs")
    )
    groups = _cap_groups(groups, "_docs", max_df, observation)

    def hamming_filter(cols, x, y):
        import numpy as np

        pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
        ids, sims = cols["_id"], cols["_sim"]
        xor = np.bitwise_xor(sims[x], sims[y]).view(np.uint64)
        hd = pop8[xor.view(np.uint8).reshape(-1, 8)].sum(axis=1).astype(np.int32)
        m = hd <= max_hamming
        return {"id_a": ids[x][m], "id_b": ids[y][m], "hamming": hd[m]}

    return groups.mapInArrow(
        _emit_group_pairs(hamming_filter), schema="id_a long, id_b long, hamming int"
    ).distinct()


def dedup_components(
    pairs: DataFrame,
    all_ids: Optional[DataFrame] = None,
    id_col: str = "doc_id",
    max_iters: int = 25,
    pointer_jump: bool = True,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, component_id)
    with ``component_id = min id of the component`` — the step that
    turns pairwise dedup output into an actual KEEP LIST (keep rows
    where id == component_id, drop the rest).

    Algorithm: iterative min-label propagation (the Hash-to-Min family,
    Rastogi et al. 2013): every node repeatedly adopts the smallest
    label among itself and its neighbors until a fixpoint. With
    ``pointer_jump`` (default) each round ALSO adopts the label of its
    label (pointer doubling) — one extra node-table self-join per
    round, but the label deficit halves-then-doubles away so rounds
    needed drop from graph diameter to O(log diameter): a pathological
    10⁴-link near-dup chain converges in ~15 rounds instead of 10⁴.
    Each round is one join + one aggregate on the EDGE list (near-dup
    graphs are tiny next to the corpus — edges ≪ docs after capping),
    hard-capped at ``max_iters``. Each round's label frame is
    ``localCheckpoint``ed (eager): iterative DataFrame algorithms MUST
    truncate lineage every round or the logical plan doubles per
    iteration and the planner itself OOMs around round ~10 (measured
    on a 10-node path graph); on a cluster with a checkpoint dir, swap
    for ``checkpoint()``.

    Convergence detection costs NO extra job: each round carries the
    previous label through the aggregate (``min`` over the single
    non-null ``_old`` per group) and an ``Observation`` counts
    shrunken labels during the same action that materializes the
    checkpoint — one Spark job per round, not join+count on top.

    Exceeding ``max_iters`` without a fixpoint RAISES: a silently
    unconverged result would split true components and the derived
    keep-list would retain duplicates. Real near-dup graphs have small
    diameter; hitting the cap means the cap is too low for the graph —
    pass a larger ``max_iters``.

    ``all_ids`` (optional, e.g. ``df.select("doc_id")``): include
    singleton docs (no near-dup) as their own component; otherwise only
    ids appearing in some pair are returned.
    """
    from pyspark.sql import Observation

    if max_iters < 1:
        raise ValueError("max_iters must be >= 1")
    # undirected edge list, both directions (propagation is symmetric)
    e = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    e = e.distinct().persist()
    try:
        labels = (
            e.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("lbl", F.col("node"))
            .localCheckpoint(eager=True)
        )
        changed = None
        for _ in range(max_iters):
            # candidate labels: own (tagged with _old=own lbl) + the label
            # of every neighbor (_old NULL) — min(_old) per group recovers
            # the previous label with no second join
            own = labels.withColumn("_old", F.col("lbl"))
            neighbor = (
                e.join(labels.withColumnRenamed("node", "src"), "src")
                .select(
                    F.col("dst").alias("node"),
                    "lbl",
                    F.lit(None).cast("long").alias("_old"),
                )
            )
            cand = own.unionByName(neighbor)
            if pointer_jump:
                # label-of-label: lbl is itself a node of the same
                # component, so adopting ITS label is sound and doubles
                # the propagation distance per round
                lofl = (
                    labels.alias("l1")
                    .join(
                        labels.select(
                            F.col("node").alias("lbl"),
                            F.col("lbl").alias("_ll"),
                        ),
                        "lbl",
                    )
                    .select(
                        "node",
                        F.col("_ll").alias("lbl"),
                        F.lit(None).cast("long").alias("_old"),
                    )
                )
                cand = cand.unionByName(lofl)
            obs = Observation()
            new_labels = (
                cand.groupBy("node")
                .agg(F.min("lbl").alias("lbl"), F.min("_old").alias("_old"))
                .observe(
                    obs,
                    F.count(F.when(F.col("lbl") < F.col("_old"), 1)).alias("changed"),
                )
                .drop("_old")
                # eager checkpoint = the round's ONE job; it both truncates
                # lineage and fires the observation (verified: a lazy
                # checkpoint's LogicalRDD plan drops the metrics)
                .localCheckpoint(eager=True)
            )
            changed = obs.get["changed"]
            labels = new_labels
            if changed == 0:
                break
        if changed != 0:
            raise ValueError(
                f"dedup_components did not converge within max_iters={max_iters} "
                f"({changed} labels still shrinking) — the graph diameter exceeds "
                "the cap; rerun with a larger max_iters"
            )
    finally:
        # every round's labels are eager local checkpoints: nothing
        # returned reads the edge list again
        e.unpersist()
    out = labels.select(
        F.col("node").alias(id_col), F.col("lbl").alias("component_id")
    )
    if all_ids is not None:
        singles = all_ids.select(F.col(id_col)).join(
            out.select(id_col), id_col, "left_anti"
        ).withColumn("component_id", F.col(id_col))
        out = out.unionByName(singles)
    return out


# ------------------------------------------------- embedding near-dup

def embedding_near_dups_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_size: int = 1024,
) -> DataFrame:
    """Blocked-GEMM exact near-dup: the scale path for all-pairs cosine.

    Rows are grouped into ⌈n/block⌉ blocks; the self-join happens on
    BLOCK pairs (B(B+1)/2 rows, each carrying two vector blocks), and
    each block pair computes its full similarity sub-matrix with one
    numpy float64 matmul inside ``applyInPandas`` — 25M dots become a
    handful of GEMMs instead of 25M interpreted expressions. Exact
    (same float64 math, rounded to 6dp) and embarrassingly parallel:
    at 10^9 vectors pair-blocking composes with LSH pre-bucketing.
    """
    import pandas as pd

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_blk", (F.col("_id") / block_size).cast("long"))

    # ONE row per block, FLAT layout: (block_id, ids[], flat vectors[])
    # — a flat array<double> crosses Arrow as one contiguous buffer and
    # reshapes zero-copy in numpy, where the old list-of-struct rows
    # cost a per-element Python conversion on every one of the B
    # replicas of each block (guide §4.2: re-slice buffers, don't copy
    # rows). Both collect_lists aggregate rows in the same order within
    # the one aggregate execution, so ids and vectors stay aligned.
    blocks = base.groupBy("_blk").agg(
        F.collect_list("_id").alias("_ids"),
        F.flatten(F.collect_list("_v")).alias("_vs"),
    )
    a = blocks.select(
        F.col("_blk").alias("blk_a"),
        F.col("_ids").alias("ids_a"),
        F.col("_vs").alias("vs_a"),
    )
    b = blocks.select(
        F.col("_blk").alias("blk_b"),
        F.col("_ids").alias("ids_b"),
        F.col("_vs").alias("vs_b"),
    )
    pairs = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    def block_sim(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for ids_a, ids_b, vs_a, vs_b in zip(
                pdf["ids_a"], pdf["ids_b"], pdf["vs_a"], pdf["vs_b"]
            ):
                ids_a = np.asarray(ids_a, dtype=np.int64)
                ids_b = np.asarray(ids_b, dtype=np.int64)
                A = np.asarray(vs_a, dtype=np.float64).reshape(len(ids_a), -1)
                B = np.asarray(vs_b, dtype=np.float64).reshape(len(ids_b), -1)
                A = A / np.linalg.norm(A, axis=1, keepdims=True)
                B = B / np.linalg.norm(B, axis=1, keepdims=True)
                S = A @ B.T
                ia, ib = np.nonzero(S >= threshold)
                ka, kb = ids_a[ia], ids_b[ib]
                keep = ka < kb
                out_a.extend(ka[keep])
                out_b.extend(kb[keep])
                out_c.extend(np.round(S[ia, ib][keep], 6))
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    return pairs.select("ids_a", "ids_b", "vs_a", "vs_b").mapInPandas(
        block_sim, schema="id_a long, id_b long, cosine double"
    )


# ------------------------------------------- substring-level exact dedup

def positional_gram_hashes_udf(k: int = 5):
    """pandas UDF: text → array<long> of FNV-64 word-k-gram hashes, ONE
    PER POSITION (index i = gram over words[i..i+k-1]; n_words−k+1
    entries, empty when the doc has < k words). Unlike
    ``hashed_shingles_udf`` this keeps duplicates and order — positions
    are the unit the substring pass flags. Raw case (exact-substring
    dedup is exact); whitespace split, same (?U)\\s contract as the
    rest of the engine. One ``gram_hashes`` call per Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    def _gh(texts):
        words = [t.split() if isinstance(t, str) else [] for t in texts]
        flat, counts = gram_hashes(words, k)
        flat = flat.view(np.int64)
        return pd.Series([flat[e - c : e] for e, c in zip(np.cumsum(counts), counts)])

    _gh.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(_gh, T.ArrayType(T.LongType()))


def _strip_spans_udf(k: int):
    """pandas UDF: (text, flagged gram starts) → struct(clean_text,
    n_words, n_removed_words, n_spans). A flagged start p covers words
    [p, p+k); overlapping/adjacent covers merge into maximal runs
    (the per-doc maximal-run merge of Lee et al. §4.1); kept words
    rejoin with single spaces (word-level dedup normalizes whitespace
    by construction)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    def _strip(texts, flags):
        clean, nw, nr, ns = [], [], [], []
        for t, fl in zip(texts, flags):
            words = (t if isinstance(t, str) else "").split()
            n = len(words)
            if fl is None or len(fl) == 0:
                clean.append(" ".join(words))
                nw.append(n)
                nr.append(0)
                ns.append(0)
                continue
            covered = np.zeros(n, dtype=bool)
            for p in fl:
                covered[p : p + k] = True
            kept = [w for w, c in zip(words, covered) if not c]
            # span count = runs of covered: rising edges of the mask
            edges = int(covered[0]) + int(
                np.count_nonzero(covered[1:] & ~covered[:-1])
            )
            clean.append(" ".join(kept))
            nw.append(n)
            nr.append(int(covered.sum()))
            ns.append(edges)
        return pd.DataFrame(
            {
                "clean_text": clean,
                "n_words": np.asarray(nw, dtype=np.int64),
                "n_removed_words": np.asarray(nr, dtype=np.int64),
                "n_spans": np.asarray(ns, dtype=np.int64),
            }
        )

    _strip.__annotations__ = {
        "texts": pd.Series,
        "flags": pd.Series,
        "return": pd.DataFrame,
    }
    return F.pandas_udf(
        _strip,
        T.StructType(
            [
                T.StructField("clean_text", T.StringType()),
                T.StructField("n_words", T.LongType()),
                T.StructField("n_removed_words", T.LongType()),
                T.StructField("n_spans", T.LongType()),
            ]
        ),
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    cleanup: Optional[list] = None,
    keep_first: bool = True,
) -> DataFrame:
    """Substring-level EXACT dedup (Lee et al. 2021 "Deduplicating
    Training Data" §4.1, the RefinedWeb/FineWeb exact-substring stage):
    every word span of length ≥ k that repeats anywhere in the corpus
    is removed from all occurrences EXCEPT the globally first one
    (ordered by (doc_id, position)); the surviving text keeps its word
    order, whitespace-normalized. The paper's unit is 50 BPE tokens;
    here the unit is whitespace words and ``k`` is the span threshold.

    Plan — and why it has NO quadratic stage (unlike the pair-emitting
    near-dup passes, no ``max_df`` cap is needed):

    1. ONE pandas-UDF pass per doc emits the k-gram FNV-64 hash at
       every word position; posexplode → (id, pos, gh). The narrow
       exploded frame is persisted — it feeds both the gram-frequency
       aggregate and the flag join, and re-running the gram UDF twice
       would double the only Python cost in the plan (pass
       ``cleanup=[]``: the frame is appended to it, so the caller can
       ``unpersist()`` it once the result has been consumed).
    2. Gram stats: groupBy(gh) → (count, min(struct(id, pos))). A
       COUNT aggregate with map-side partial combine — a gram repeated
       10⁹ times reduces to one row per map partition before the
       shuffle, so hot boilerplate grams never concentrate rows (the
       same shape as ``corpus_line_dedup``); contrast with posting-list
       collection, which would need capping.
    3. Flag positions: join grams back on gh (every probe row matches
       ≤ 1 stats row — linear, AQE skew-join splits hot grams),
       keep occurrences of count>1 grams that are NOT the global first.
    4. Per-doc flag lists: groupBy(id) collect_list(pos) — bounded by
       doc length.
    5. Rebuild: left-join flags onto the input, one pandas UDF strips
       the maximal covered runs (a span of length L ≥ k shared with an
       earlier occurrence has all its L−k+1 gram positions flagged, so
       the union of [p, p+k) covers exactly the span).

    Output: (id, clean_text, n_words, n_removed_words, n_spans).

    Self-repetition falls out for free: "a b c a b c" at k=3 flags the
    second "a b c" (its gram's first occurrence is position 0 of the
    same doc).

    ``keep_first=False`` strips EVERY occurrence of a duplicated span
    (Lee et al. also evaluate this variant — it guarantees no
    repeated span survives anywhere, at the cost of losing the
    canonical copy too); the aggregate then needs only the count, not
    the first-occurrence struct.
    """
    # asNondeterministic: pins the (pure) gram UDF above any caller's
    # spread exchange — deterministic UDF projections get pushed below
    # it and re-extracted above, running the whole gram pass twice
    # (once on the unspread scan); see the same fix on the jaccard
    # paths (guide §4.4)
    grams = (
        df.select(
            F.col(id_col).alias("_id"),
            positional_gram_hashes_udf(k)
            .asNondeterministic()(F.col(text_col))
            .alias("_ghs"),
        )
        .select("_id", F.posexplode("_ghs").alias("pos", "gh"))
        .persist()
    )
    if cleanup is not None:
        cleanup.append(grams)

    if keep_first:
        dup_grams = (
            grams.groupBy("gh")
            .agg(
                F.count(F.lit(1)).alias("_cnt"),
                F.min(F.struct(F.col("_id"), F.col("pos"))).alias("_first"),
            )
            .where(F.col("_cnt") > 1)
            .select("gh", "_first")
        )
        flagged = (
            grams.join(dup_grams, "gh")
            .where(
                ~(
                    (F.col("_first._id") == F.col("_id"))
                    & (F.col("_first.pos") == F.col("pos"))
                )
            )
            .select("_id", "pos")
        )
    else:
        dup_grams = (
            grams.groupBy("gh")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .where(F.col("_cnt") > 1)
            .select("gh")
        )
        flagged = grams.join(dup_grams, "gh").select("_id", "pos")
    flags = flagged.groupBy("_id").agg(F.collect_list("pos").alias("_flags"))

    strip = _strip_spans_udf(k)
    out = (
        df.select(F.col(id_col), F.col(text_col))
        .join(flags.withColumnRenamed("_id", id_col), id_col, "left")
        # struct first, fields second — the UDF evaluates exactly once
        .select(F.col(id_col), strip(F.col(text_col), F.col("_flags")).alias("_s"))
        .select(
            id_col,
            F.col("_s.clean_text").alias("clean_text"),
            F.col("_s.n_words").alias("n_words"),
            F.col("_s.n_removed_words").alias("n_removed_words"),
            F.col("_s.n_spans").alias("n_spans"),
        )
    )
    return out
