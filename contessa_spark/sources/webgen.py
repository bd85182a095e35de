"""Deterministic synthetic Common-Crawl-style web-page generator.

Produces the north-star input table (BASELINE.json input_hint):
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``.

Design constraints:

* **Deterministic per row id** — every field is a pure function of
  ``(seed, i)`` via blake2b + an LCG stream; no RNG state, so the
  table is identical however it is partitioned, and the pure-Python
  test oracle can regenerate any row independently.
* **Distributed** — ``generate(spark, n)`` is ``spark.range(n)`` +
  ``mapInArrow``; scales to any n with no driver materialization.
* **Hot domains** — domain rank drawn ~ u³ (Zipf-ish), so a handful
  of domains dominate, exercising salted repartitioning.
* **Doc-type mix** — clean prose per language, wrong-lang tags,
  too-short, symbol soup, repetitive boilerplate, PII-laced, toxic —
  every rule in the pipeline has real positives and negatives.

FIXTURES.md F7 is the spec for this table.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta
from typing import Dict, List

import pyarrow as pa

from contessa_spark.functions.langid import LANGS, SEED_CORPORA

BASE_TS = datetime(2025, 6, 1)
SPAN_SECONDS = 60 * 86400  # ~60 days of warc_ts spread

N_DOMAINS = 50
DOMAINS = [f"site{k:02d}.example.org" for k in range(N_DOMAINS)]

_WORD_POOLS: Dict[str, List[str]] = {l: SEED_CORPORA[l].split() for l in LANGS}

# doc-type mix (cumulative per mille)
_DOC_TYPES = [
    ("clean", 590),
    ("wrong_lang", 660),
    ("short", 730),
    ("long", 750),  # exceeds max_chars → exercises the max_len rule
    ("symbol", 820),
    ("repetitive", 890),
    ("pii", 945),
    ("toxic", 1000),
]

_SYMBOLS = ["@#$%", "^&*()", "<<>>||", "~~==++", "{}[]\\//"]


class _LCG:
    """64-bit LCG — tiny deterministic stream, identical everywhere."""

    def __init__(self, seed_bytes: bytes):
        self.state = int.from_bytes(seed_bytes[:8], "little") | 1

    def next(self) -> int:
        self.state = (self.state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return self.state >> 16

    def choice(self, seq):
        return seq[self.next() % len(seq)]

    def randint(self, lo: int, hi: int) -> int:
        return lo + self.next() % (hi - lo + 1)

    def unit(self) -> float:
        return self.next() / float(1 << 48)


def _words(rng: _LCG, pool: List[str], n: int) -> List[str]:
    return [pool[rng.next() % len(pool)] for _ in range(n)]


def gen_row(i: int, seed: int = 42) -> dict:
    """Pure: one web page row from (seed, row id)."""
    digest = hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=16).digest()
    rng = _LCG(digest)

    roll = rng.next() % 1000
    doc_type = next(name for name, cum in _DOC_TYPES if roll < cum)

    # language: en-heavy web mix
    lang = "en" if rng.next() % 100 < 45 else rng.choice(LANGS)
    pool = _WORD_POOLS[lang]

    if doc_type == "short":
        text = " ".join(_words(rng, pool, rng.randint(1, 8)))
    elif doc_type == "long":
        # well-formed prose that overruns the max-length rule (~4-5k
        # words ≈ 25-30k chars vs the 20k default cap)
        text = " ".join(_words(rng, pool, rng.randint(4000, 5000)))
    elif doc_type == "symbol":
        parts = []
        for _ in range(rng.randint(40, 120)):
            parts.append(rng.choice(pool) if rng.next() % 2 else rng.choice(_SYMBOLS))
        text = " ".join(parts)
    elif doc_type == "repetitive":
        sentence = " ".join(_words(rng, pool, rng.randint(4, 8)))
        text = " ".join([sentence] * rng.randint(20, 60))
    else:
        text = " ".join(_words(rng, pool, rng.randint(80, 400)))
        if doc_type == "pii":
            pii_bits = [
                f"contact me at user{i}@example.com",
                f"call +1 (555) {100 + i % 900:03d}-{1000 + i % 9000:04d}",
                f"ssn {100 + i % 900:03d}-{10 + i % 90:02d}-{1000 + i % 9000:04d}",
            ]
            text = text + " " + rng.choice(pii_bits)
        elif doc_type == "toxic":
            from contessa_spark.functions.scrub import TOXIC_LEXICON

            text = text + " this is " + rng.choice(TOXIC_LEXICON) + " terrible"

    # claimed tag: usually truthful; wrong for wrong_lang docs
    tag = lang
    if doc_type == "wrong_lang":
        others = [l for l in LANGS if l != lang]
        tag = rng.choice(others)

    # Zipf-ish domain: u³ concentrates on low ranks (hot domains)
    u = rng.unit()
    domain = DOMAINS[min(int(N_DOMAINS * u * u * u), N_DOMAINS - 1)]

    ts = BASE_TS + timedelta(seconds=rng.next() % SPAN_SECONDS)
    return {
        "url": f"https://{domain}/page/{i}",
        "warc_ts": ts,
        "html": f"<html><body>{text}</body></html>".encode(),
        "text": text,
        "lang": tag,
        "doc_type": doc_type,  # generator metadata; dropped by generate()
    }


WEB_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def generate(spark, n: int, seed: int = 42, with_doc_type: bool = False):
    """Distributed generation: spark.range(n) → mapInArrow(gen_row).
    The naive ``warc_ts`` values are read as UTC, the session time zone
    ``get_spark`` sets."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = WEB_SCHEMA + (", doc_type string" if with_doc_type else "")
    arrow_schema = to_arrow_schema(T.StructType.fromDDL(schema))

    def gen_batches(batches):
        for b in batches:
            rows = [gen_row(i, seed) for i in b.column(0).to_pylist()]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return spark.range(n).mapInArrow(gen_batches, schema=schema)
