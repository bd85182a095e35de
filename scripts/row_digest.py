"""Row digests of declared queries: one sha256 per (sf, query) over the
query's sorted rows, so two commits can be shown to return the same
rows without keeping the rows.

A digest is ``sha256(repr(sorted(tuple(r) for r in
q(spark, sf_dir).select(sorted(columns)).collect())))``: columns in name
order, rows sorted, so physical order and column order do not matter.
Equal digests mean equal row multisets.

Usage:
    python scripts/row_digest.py --out rows.json [--repo DIR] [--data DIR]
        (every query of ``QUERIES``, plus the pipeline's rows from
        ``pipeline_decisions``, at every sf of ``SFS``; ``--data``
        defaults to the testdata root ``bench.py`` reads)
    python scripts/row_digest.py --compare base.json change.json [--out merged.json]

``--repo`` imports ``__spark_entry__`` and ``contessa_spark`` from that
checkout, so one copy of this script digests any commit. Python workers
put their working directory, which is the driver's, first on
``sys.path``, ahead of ``PYTHONPATH``; so the script changes into that
checkout before the session starts, which is how the workers import
its ``contessa_spark`` and not the caller's directory's. The digest's
``commit`` ends in ``-dirty`` when the checkout has uncommitted changes.

``--compare`` prints every (sf, query) whose digests differ, optionally
writes both sides into one JSON and exits 1 unless all are identical;
a base digested before ``pipeline_decisions`` existed lacks those keys,
so make the base with ``--repo`` and this copy of the script.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the queries whose rows run through the word-level UDFs, then the
#: embedding queries (three of which, ``embedding_near_dups_lsh``,
#: ``ann_topk_lsh`` and ``ann_topk_ivf``, have no DuckDB oracle), then
#: the per-row text UDFs, the summaries, the bloom filter and the media
#: decoders and hashers
QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_components",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "doc_substring_dedup",
    "doc_substring_dedup_dropall",
    "doc_bpe_tokens",
    "doc_unigram_tokens",
    "doc_wordpiece_tokens",
    "doc_quality_classifier",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "embedding_near_dups",
    "embedding_near_dups_lsh",
    "embedding_kmeans",
    "dedup_semantic",
    "doc_semantic_decontamination",
    "doc_hybrid_rrf",
    "doc_langid",
    "doc_scrub",
    "doc_badwords",
    "doc_textnorm",
    "lm_trigram_counts",
    "doc_kn_perplexity",
    "doc_top_ngrams",
    "doc_dup_ngrams",
    "doc_dup_ngrams5",
    "doc_pack_bfd",
    "doc_incremental_dedup",
    "events_top_users_mg",
    "events_value_quantiles",
    "media_decode",
    "media_audio_decode",
    "media_video_decode",
    "media_image_dups",
    "media_audio_dups",
]
SFS = ["0.001", "0.01", "0.1"]


def pipeline_decisions(spark, sf_dir):
    """The quality-filter pipeline's annotate and decision columns
    (``pipeline.with_decisions(pipeline.annotate(...))``) over the sf's
    documents, with a url made from ``source`` and ``doc_id``."""
    from pyspark.sql import functions as F

    from contessa_spark.pipeline import PipelineConfig, annotate, with_decisions

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs = docs.withColumn("url", F.format_string("https://%s/%d", "source", "doc_id"))
    return with_decisions(annotate(docs), PipelineConfig())


def digest(args) -> dict:
    if args.data is None:
        sys.path.insert(0, HERE)
        from bench import SF_DIR

        args.data = os.path.dirname(SF_DIR)
    data, repo = os.path.abspath(args.data), os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    os.chdir(repo)
    import __spark_entry__ as entry
    from contessa_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark("row_digest", master=f"local[{cores}]", shuffle_partitions=cores)
    declared = entry.queries()
    row_sets = {**{name: declared[name] for name in QUERIES}, "pipeline_decisions": pipeline_decisions}
    git = lambda *a: subprocess.run(["git", *a], cwd=repo, capture_output=True, text=True).stdout.strip()
    rev = git("rev-parse", "HEAD")
    if rev and git("status", "--porcelain", "--untracked-files=no"):
        rev += "-dirty"  # uncommitted changes on top of HEAD
    results = {}
    for sf in SFS:
        for name, q in row_sets.items():
            t0 = time.perf_counter()
            df = q(spark, os.path.join(data, f"sf{sf}"))
            rows = sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())
            results[f"sf{sf}/{name}"] = {
                "rows": len(rows),
                "sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
                "s": round(time.perf_counter() - t0, 1),
            }
            print(f"sf{sf}/{name}", results[f"sf{sf}/{name}"], flush=True)
    spark.stop()
    return {"commit": rev, "host": f"{os.cpu_count()} cores, local[{cores}]", "results": results}


def compare(base: dict, change: dict) -> dict:
    merged = {}
    for key in sorted(set(base["results"]) | set(change["results"])):
        b, c = base["results"].get(key, {}), change["results"].get(key, {})
        merged[key] = {
            "rows_base": b.get("rows"),
            "rows_change": c.get("rows"),
            "sha256_base": b.get("sha256"),
            "sha256_change": c.get("sha256"),
            "s_base": b.get("s"),
            "s_change": c.get("s"),
        }
    differ = [k for k, v in merged.items() if v["sha256_base"] is None or v["sha256_base"] != v["sha256_change"]]
    for k in differ:
        print("DIFFERS:", k, merged[k])
    return {
        "base": {k: base[k] for k in ("commit", "host") if k in base},
        "change": {k: change[k] for k in ("commit", "host") if k in change},
        "identical": not differ,
        "results": merged,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--out")
    ap.add_argument("--repo", default=HERE)
    ap.add_argument("--data", help="testdata root holding sf<N>/ (default: the parent of bench.py's SF_DIR)")
    ap.add_argument("--compare", nargs=2, metavar=("BASE", "CHANGE"))
    args = ap.parse_args()
    if args.out:
        args.out = os.path.abspath(args.out)  # digest() changes directory
    if args.compare:
        with open(args.compare[0]) as f, open(args.compare[1]) as g:
            out = compare(json.load(f), json.load(g))
    else:
        out = digest(args)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    return 0 if out.get("identical", True) else 1


if __name__ == "__main__":
    sys.exit(main())
