"""Incremental dedup: filter a NEW crawl batch against an already-
ingested SEEN corpus — the pass every recurring crawl pipeline runs
before any intra-batch dedup.

Two paths, same normalized-content fingerprint as ``exact_dedup``:

* ``method="anti_join"`` — exact: LEFT ANTI join on the fingerprint.
  One co-partitioned shuffle of (fingerprint, id) pairs; the seen side
  projects to fingerprints only. The correctness baseline and the
  right choice when the seen corpus lives in the same cluster anyway.
* ``method="bloom"`` — the streaming/scale path: a Bloom filter of the
  seen fingerprints is built ONCE with a per-partition bitmap
  aggregate (one row of ``m/8`` bytes per partition, OR-reduced on the
  driver) and closed over a filter UDF, so each new batch is screened
  MAP-SIDE with zero shuffle and zero touches of the seen corpus.
  False positives drop ~``fpp`` of genuinely-new docs (tunable);
  false negatives are impossible — nothing seen ever gets back in.
  Sizing: m = −n·ln(fpp)/ln²2 bits, k = (m/n)·ln2 hashes
  (standard formulas); 10⁹ seen docs at fpp=0.1 % is ~1.8 GB — still
  a broadcastable closure at executor counts where the anti-join
  shuffle would move terabytes.

Hashing is Kirsch-Mitzenmacher double hashing over the FNV-64
fingerprint hash (``hashing.fnv1a``, one call per Arrow batch;
position_i = (h1 + i·h2) mod m) — deterministic, no RNG,
layout-independent.
"""

from __future__ import annotations

import math
from typing import Optional, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from contessa_spark.hashing import fnv1a
from contessa_spark.operators.dedup import fingerprint_col

#: driver-memory guard: a bloom beyond this is no longer a broadcastable
#: closure — shard the seen corpus or fall back to the anti-join
MAX_BLOOM_BYTES = 4 * 1024**3


def bloom_params(n_items: int, fpp: float) -> Tuple[int, int]:
    """(m_bits, k_hashes) for a target false-positive rate."""
    n_items = max(1, n_items)
    m = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64  # whole words
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _positions(h1, m_bits: int, k: int):
    """Kirsch-Mitzenmacher: k positions from two derived hashes."""
    z = (h1 + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    h2 = (z ^ (z >> np.uint64(31))) | np.uint64(1)  # odd → full-period step
    return [
        ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)) for i in range(k)
    ]


def build_fingerprint_bloom(
    seen_df: DataFrame,
    text_col: str = "text",
    m_bits: Optional[int] = None,
    k: Optional[int] = None,
    fpp: float = 0.001,
    n_items: Optional[int] = None,
) -> Tuple[bytes, int, int]:
    """(bloom_bytes, m_bits, k) over the seen corpus's fingerprints.

    One pass: each partition folds its fingerprints into a local
    ``m/8``-byte bitmap (mapInArrow, one output row per partition);
    the driver ORs the ≤ n_partitions bitmaps. No shuffle, driver
    memory = one bitmap. ``n_items`` (for auto-sizing) defaults to a
    ``count()`` of the seen side — pass it when known to skip that
    job."""
    if m_bits is None or k is None:
        if n_items is None:
            n_items = seen_df.count()
        m_bits, k = bloom_params(n_items, fpp)
    if m_bits > 8 * MAX_BLOOM_BYTES:
        raise ValueError(
            f"bloom would need {m_bits // 8 / 1e9:.1f} GB "
            f"(> {MAX_BLOOM_BYTES / 1e9:.0f} GB cap) — raise fpp, shard "
            "the seen corpus, or use method='anti_join'"
        )
    n_words = m_bits // 64

    fps = seen_df.select(fingerprint_col(text_col).alias("_fp"))

    def _partition_bloom(batches):
        words = np.zeros(n_words, dtype=np.uint64)
        for b in batches:
            h1 = fnv1a(b.column(0))
            for pos in _positions(h1, m_bits, k):
                np.bitwise_or.at(
                    words, (pos >> np.uint64(6)).astype(np.int64),
                    np.uint64(1) << (pos & np.uint64(63)),
                )
        yield pa.RecordBatch.from_arrays([pa.array([words.tobytes()], pa.binary())], names=["bloom"])

    parts = fps.mapInArrow(_partition_bloom, schema="bloom binary").collect()
    acc = np.zeros(n_words, dtype=np.uint64)
    for r in parts:
        acc |= np.frombuffer(r["bloom"], dtype=np.uint64)
    return acc.tobytes(), m_bits, k


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "anti_join",
    fpp: float = 0.001,
    seen_count: Optional[int] = None,
) -> DataFrame:
    """Rows of ``new_df`` whose normalized-content fingerprint does NOT
    appear in ``seen_df``. See the module docstring for the two
    methods' trade-offs."""
    if method == "anti_join":
        fp_new = new_df.withColumn("_fp", fingerprint_col(text_col))
        fp_seen = seen_df.select(fingerprint_col(text_col).alias("_fp"))
        return fp_new.join(fp_seen, "_fp", "left_anti").drop("_fp")
    if method != "bloom":
        raise ValueError(f"unknown method {method!r}: anti_join | bloom")

    bloom, m_bits, k = build_fingerprint_bloom(
        seen_df, text_col, fpp=fpp, n_items=seen_count
    )
    words = np.frombuffer(bloom, dtype=np.uint64)

    def _unseen(fps: pa.Array) -> pa.Array:
        h1 = fnv1a(fps)
        hit = np.ones(len(fps), dtype=bool)
        for pos in _positions(h1, m_bits, k):
            bit = (
                words[(pos >> np.uint64(6)).astype(np.int64)]
                >> (pos & np.uint64(63))
            ) & np.uint64(1)
            hit &= bit.astype(bool)
        return pa.array(~hit)

    unseen = F.arrow_udf(_unseen, "boolean")
    return (
        new_df.withColumn("_fp", fingerprint_col(text_col))
        .where(unseen(F.col("_fp")))
        .drop("_fp")
    )
