"""Text normalization: Unicode NFC + ftfy-style mojibake repair — the
hygiene pass that runs before tokenization/dedup so that visually
identical documents hash identically.

* NFC: combining sequences → precomposed forms (``e`` + U+0301 → ``é``)
  via stdlib ``unicodedata`` — without it, the same page scraped from
  two encoders defeats exact dedup and splits BPE statistics.
* Mojibake repair (the core ftfy trick, public method): text that was
  UTF-8 bytes mis-decoded as Latin-1/cp1252 shows the classic ``Ã©``
  / ``â€™`` artifacts; re-encoding as latin-1/cp1252 and decoding as
  UTF-8 inverts the corruption EXACTLY when it round-trips. Repair is
  attempted only when artifact markers are present AND the round trip
  succeeds AND it strictly reduces the artifact count — never a lossy
  guess; up to two passes (double-mojibake happens in real crawls).

Spark shape: one ``arrow_udf``, no shuffle; pure cores shared
with tests. The NFC half is oracle-comparable (DuckDB
``nfc_normalize`` — utf8proc — agrees with CPython's unicodedata on
the normalization forms); mojibake repair is pytest-gated (golden
corruptions + idempotency + never-touch-clean-text).
"""

from __future__ import annotations

import unicodedata

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: cp1252-artifact markers that appear when UTF-8 bytes are mis-decoded
_MOJIBAKE_MARKERS = ("Ã", "Â", "â€", "å…", "ã€", "Ð", "Ñ")


def _artifact_score(text: str) -> int:
    return sum(text.count(m) for m in _MOJIBAKE_MARKERS)


def fix_mojibake(text: str, max_passes: int = 2) -> str:
    """Pure core: invert up to ``max_passes`` rounds of
    UTF-8-as-latin1/cp1252 mis-decoding. Conservative: a pass applies
    only if markers are present, the byte round-trip succeeds, and the
    artifact count strictly drops."""
    out = text
    for _ in range(max_passes):
        score = _artifact_score(out)
        if score == 0:
            break
        repaired = None
        for enc in ("latin-1", "cp1252"):
            try:
                cand = out.encode(enc).decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                continue
            if _artifact_score(cand) < score:
                repaired = cand
                break
        if repaired is None:
            break
        out = repaired
    return out


def py_normalize(text: str, mojibake: bool = True) -> str:
    t = fix_mojibake(text) if mojibake else text
    return unicodedata.normalize("NFC", t)


def normalize_text_udf(mojibake: bool = True):
    def _norm(texts: pa.Array) -> pa.Array:
        return pa.array([py_normalize(t or "", mojibake) for t in texts.to_pylist()], pa.string())

    return F.arrow_udf(_norm, "string")


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mojibake: bool = True,
) -> DataFrame:
    """(id, norm_text, changed). One UDF pass, no shuffle; returning
    NULL-free norm_text and a changed flag so downstream dedup can
    count how much of the corpus needed repair.

    The UDF lands in its own projection FIRST and ``changed`` derives
    from the materialized column in a second select — referencing the
    UDF expression twice in one projection risks running the Python
    normalization pass twice per row (the double-eval trap
    ``substring_dedup`` dodges with its struct-first pattern)."""
    norm = normalize_text_udf(mojibake)(F.col(text_col))
    return (
        df.select(F.col(id_col), F.col(text_col), norm.alias("norm_text"))
        .select(
            F.col(id_col),
            F.col("norm_text"),
            (F.col("norm_text") != F.col(text_col)).alias("changed"),
        )
    )
