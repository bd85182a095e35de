"""PII + toxicity scrubbing.

One pure function, ``scrub_text``, is the single source of truth for
both the Spark ``arrow_udf`` and the test oracle — that is what makes the
scrubbed text byte-identical per url (BASELINE.json per-row
invariant). Python ``re`` is the authoritative regex engine on both
sides; the Spark side never re-implements the patterns in Java regex.

Patterns:
* email   → <EMAIL>
* US-SSN  → <SSN>     (checked before PHONE so the digit runs don't
                        get half-eaten)
* phone   → <PHONE>   (international-ish, ≥9 digits)
* toxicity → <TOXIC>  (deterministic lexicon; stand-in wordlist of
                        fictional profanity so tests stay clean — swap
                        the lexicon for a real one in deployment)
"""

from __future__ import annotations

import re
from typing import List, Tuple

import pyarrow as pa

EMAIL_RE = re.compile(r"[\w.+-]+@[\w-]+\.[\w.-]+")
SSN_RE = re.compile(r"\b\d{3}-\d{2}-\d{4}\b")
PHONE_RE = re.compile(r"(?<!\d)\+?\d(?:[\d\s().-]{7,}\d)(?!\d)")

# fictional profanity (Battlestar Galactica / Firefly / Red Dwarf) —
# deterministic stand-ins; production swaps in a real lexicon.
TOXIC_LEXICON = ["frak", "frakking", "gorram", "smegging", "smeghead"]
TOXIC_RE = re.compile(
    r"\b(" + "|".join(re.escape(w) for w in TOXIC_LEXICON) + r")\b", re.IGNORECASE
)


_DIGIT_RE = re.compile(r"\d")
# C-speed substring pre-filters for the toxic lexicon (the stems cover
# every lexicon entry); a large production lexicon would use
# Aho-Corasick here instead.
_TOXIC_STEMS = ("frak", "gorram", "smeg")


def scrub_text(text: str) -> str:
    """Apply all substitutions in a fixed order. Pure + deterministic.

    Guarded fast paths: each regex only runs when a cheap C-level scan
    says it could match — most documents contain no '@', no digits and
    no toxic stems, and the substitutions are by far the hottest part
    of the per-row python budget. Results are identical with or
    without the guards.
    """
    out = text
    if "@" in out:
        out = EMAIL_RE.sub("<EMAIL>", out)
    if _DIGIT_RE.search(out) is not None:
        out = SSN_RE.sub("<SSN>", out)
        out = PHONE_RE.sub("<PHONE>", out)
    low = out.lower()
    if any(stem in low for stem in _TOXIC_STEMS):
        out = TOXIC_RE.sub("<TOXIC>", out)
    return out


def scrub_batch(texts) -> Tuple[List[str], List[bool]]:
    """(scrubbed, changed) per text; a NULL text scrubs as the empty
    text."""
    scrubbed, changed = [], []
    for t in texts:
        t = t or ""
        s = scrub_text(t)
        scrubbed.append(s)
        changed.append(s != t)
    return scrubbed, changed


def spark_udf():
    """``arrow_udf``: text → struct(scrubbed_text string, pii_changed boolean)."""
    from pyspark.sql import functions as F

    def _scrub(texts: pa.Array) -> pa.Array:
        scrubbed, changed = scrub_batch(texts.to_pylist())
        return pa.StructArray.from_arrays(
            [pa.array(scrubbed, pa.string()), pa.array(changed, pa.bool_())],
            names=["scrubbed_text", "pii_changed"],
        )

    return F.arrow_udf(_scrub, "scrubbed_text string, pii_changed boolean")
