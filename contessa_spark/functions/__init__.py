"""Vectorized text-quality functions (the north-star rule catalog).

Each module exposes a PURE core (no Spark imports) plus a Spark
binding (Column expression or ``arrow_udf``). The pure cores are shared
verbatim by the test oracle (``contessa_spark.reference_impl``) — that
is what makes keep/drop F1 and byte-identical scrubbed text hold
exactly (BASELINE.json per-row invariant).
"""
