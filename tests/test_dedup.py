"""Dedup operator gates.

* hot-key safety: the document-frequency cap bounds pair emission from
  hot posting lists / band buckets (the one quadratic hazard at web
  scale) while keeping true near-dup pairs, and reports what it
  dropped via an Observation;
* minhash recall: at the driver-query settings the LSH candidates,
  after exact verification, equal the exact inverted-index pairs;
* simhash: band blocking is pigeonhole-lossless at hamming ≤ 3 with
  4×16-bit bands — asserted equal to the brute-force
  ``bit_count(xor)`` pair join;
* IVF ANN: recall ≥ 0.8 vs brute force (mirrors the hyperplane-LSH
  gate in test_plans.py).
"""

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from contessa_spark.operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
    simhash_udf,
)

SF001 = "/root/testdata/sf0.01"


def _nothing_cached(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _hot_corpus(spark, n_hot: int):
    """n_hot docs sharing ONE hot shingle + unique tails, plus one true
    near-dup pair (ids 1_000_000/1_000_001) with jaccard 5/7 (8-word
    docs differing in the last word: 1 of 6 shingles differs) that does
    NOT contain the hot shingle."""
    rows = [
        (i, f"hot shingle anchor tail{i}a tail{i}b tail{i}c") for i in range(n_hot)
    ]
    rows.append((1_000_000, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((1_000_001, "alpha beta gamma delta epsilon zeta eta iota"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_df_cap_bounds_hot_shingle(spark):
    docs = _hot_corpus(spark, n_hot=2000)
    obs = Observation("ngram_cap")
    pairs = ngram_jaccard_pairs(
        docs, k=3, threshold=0.4, max_df=50, observation=obs
    ).collect()
    # the 2000-doc posting list would emit ~2M pairs uncapped; capped,
    # only the true near-dup pair (via its df=2 shingle groups) survives
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1_000_000, 1_000_001)}
    assert pairs[0]["jaccard"] == round(5 / 7, 6)
    assert obs.get["dropped_groups"] == 1
    assert obs.get["dropped_postings"] == 2000


def test_minhash_df_cap_bounds_hot_bucket(spark):
    n_clones = 300
    clones = [(i, "clone body text repeated for every row of this cluster")
              for i in range(n_clones)]
    clones.append((1_000_000, "alpha beta gamma delta epsilon zeta eta theta"))
    clones.append((1_000_001, "alpha beta gamma delta epsilon zeta eta iota"))
    docs = spark.createDataFrame(clones, "doc_id long, text string")
    obs = Observation("minhash_cap")
    pairs = minhash_lsh_candidates(
        docs, k=3, n_hashes=32, bands=16, threshold=0.4, max_df=50,
        observation=obs,
    ).collect()
    # identical docs share every band key → 16 buckets of 300; all
    # dropped (exact_dedup's job), the true near-dup pair survives
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1_000_000, 1_000_001)}
    assert obs.get["dropped_groups"] == 16
    assert obs.get["dropped_postings"] == 16 * n_clones


def test_simhash_df_cap_bounds_hot_bucket(spark):
    """The (band, key) group cap: 300 identical docs share every band
    key — all four of their band groups are dropped at max_df=50 (an
    exact-dup cluster is ``exact_dedup``'s job), while a small 10-clone
    cluster under the cap still emits its 45 hamming-0 pairs."""
    n_hot, n_small = 300, 10
    rows = [(i, "clone body text repeated for every row of this cluster")
            for i in range(n_hot)]
    rows += [(1_000_000 + i, "alpha beta gamma delta epsilon zeta eta theta")
             for i in range(n_small)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("simhash_cap")
    pairs = simhash_near_dups(
        docs, max_hamming=3, max_df=50, observation=obs
    ).collect()
    expect = {
        (1_000_000 + i, 1_000_000 + j, 0)
        for i in range(n_small)
        for j in range(i + 1, n_small)
    }
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs} == expect
    assert obs.get["dropped_groups"] == 4
    assert obs.get["dropped_postings"] == 4 * n_hot


def test_lsh_buckets_stable_across_partitionings(spark):
    """Hyperplane signatures and minhash band keys must not depend on
    the physical partitioning — a repartitioned corpus yields the same
    buckets/pairs (no RNG state, no partition-id leakage)."""
    from contessa_spark.operators.dedup import lsh_signature_udf
    from contessa_spark.operators.similarity import hyperplane_lsh_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {
        tuple(r)
        for r in hyperplane_lsh_join(emb, threshold=0.4, n_bits=2, n_tables=4).collect()
    }
    b = {
        tuple(r)
        for r in hyperplane_lsh_join(
            emb.repartition(7), threshold=0.4, n_bits=2, n_tables=4
        ).collect()
    }
    assert a == b and a

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    k1 = {
        (r["doc_id"], tuple(r["k"]))
        for r in docs.select(
            "doc_id", lsh_signature_udf(3, 32, 16)(F.col("text")).keys.alias("k")
        ).collect()
    }
    k2 = {
        (r["doc_id"], tuple(r["k"]))
        for r in docs.repartition(5)
        .select(
            "doc_id", lsh_signature_udf(3, 32, 16)(F.col("text")).keys.alias("k")
        )
        .collect()
    }
    assert k1 == k2


def test_url_canonicalization_jvm_matches_python(spark):
    from contessa_spark.functions.urlnorm import canonical_url_col, py_canonical_url

    urls = [
        "HTTP://WWW.Example.COM:80/Path/1?q=1#frag",
        "https://api.site.org:443",
        "https://api.site.org:4431/x",  # :4431 is NOT :443 — keep it
        "http://host/",
        "http://HOST:8080/a#b#c",
        "ftp://Files.Example.com:21/pub",  # non-http: port kept
        "not a url at all",
        "mailto:someone@example.com",  # no ://, pass through
        "http://host?query=only#f",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url_col(F.col("url")).alias("c")).collect()
    }
    for i, u in enumerate(urls):
        assert got[i] == py_canonical_url(u), (u, got[i], py_canonical_url(u))
    # spot semantic checks
    assert got[0] == "http://www.example.com/Path/1?q=1"
    assert got[1] == "https://api.site.org/"
    assert got[2] == "https://api.site.org:4431/x"
    assert got[5] == "ftp://files.example.com:21/pub"
    assert got[6] == "not a url at all"
    assert got[8] == "http://host?query=only"


def test_dedup_doc_lines_keeps_first_occurrence_in_order(spark):
    from contessa_spark.operators.dedup import dedup_doc_lines

    docs = spark.createDataFrame(
        [
            (1, "nav bar\nreal content one\nnav bar\nreal content two\nnav bar"),
            (2, "only line"),
            (3, ""),
            (4, "a\na\na\na"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup_doc_lines(docs).collect()}
    assert got[1]["clean_text"] == "nav bar\nreal content one\nreal content two"
    assert (got[1]["n_lines"], got[1]["n_dupe_lines"]) == (5, 2)
    assert got[2]["clean_text"] == "only line" and got[2]["n_dupe_lines"] == 0
    assert got[3]["clean_text"] == "" and got[3]["n_lines"] == 1
    assert got[4]["clean_text"] == "a" and got[4]["n_dupe_lines"] == 3


def test_minhash_recall_equals_exact_at_driver_settings(spark):
    """The r1 commit claimed recall 1.0 at sf0.01 — assert it: verified
    LSH candidates ≡ exact inverted-index pairs (same k/threshold)."""
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.1).collect()
    }
    rows = minhash_lsh_candidates(
        docs, k=3, n_hashes=32, bands=16, threshold=0.1
    ).collect()
    lsh = {(r["id_a"], r["id_b"], r["jaccard"]) for r in rows}
    assert len(rows) == len(lsh)  # one row per pair, not one per band
    assert lsh <= exact  # verification step guarantees no false pairs
    assert lsh == exact, f"recall {len(lsh)}/{len(exact)}"


@pytest.mark.parametrize("max_h", [3, 7])
def test_simhash_banding_is_lossless(spark, max_h):
    """Adaptive banding (4×16 bits for k≤3, 8×8 for k≤7): any pair
    within hamming ≤ k shares ≥1 exact band (pigeonhole) — banded
    result must EQUAL the brute-force bit_count(xor) pair join, not
    approximate it."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(docs, max_hamming=max_h).collect()
    }
    sigs = docs.select(
        F.col("doc_id").alias("_id"), simhash_udf()(F.col("text")).alias("_sim")
    )
    a = sigs.select(F.col("_id").alias("id_a"), F.col("_sim").alias("sim_a"))
    b = sigs.select(F.col("_id").alias("id_b"), F.col("_sim").alias("sim_b"))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .where(F.col("hamming") <= max_h)
        .collect()
    }
    assert banded == brute
    assert brute, f"corpus must contain at least one hamming≤{max_h} pair"


def test_hyperplane_lsh_join_recall_and_plan(spark):
    """The scale path for embedding near-dup: bucketed candidates +
    exact verify. Gate: recall ≥ 0.9 vs the exact blocked-GEMM operator on
    planted near-dups, identical cosines for found pairs, and a plan
    with NO cross/nested-loop join."""
    import numpy as np

    from contessa_spark.operators.dedup import embedding_near_dups_blocked
    from contessa_spark.operators.similarity import hyperplane_lsh_join

    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for _ in range(200):
        rows.append((vid, [float(x) for x in rng.randn(16)]))
        vid += 1
    for _ in range(30):  # planted pairs at cosine ≈ 0.99
        v = rng.randn(16)
        w = v + 0.1 * rng.randn(16)
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        vid += 2
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dups_blocked(emb, threshold=0.95).collect()
    }
    lsh_df = hyperplane_lsh_join(emb, threshold=0.95, n_bits=8, n_tables=6)
    lsh = {(r["id_a"], r["id_b"]): r["cosine"] for r in lsh_df.collect()}

    assert len(exact) >= 30
    assert set(lsh) <= set(exact)  # exact verify ⇒ no false positives
    for pair, cos in lsh.items():
        assert cos == exact[pair]  # float64 cosine, 6 dp ⇒ identical values
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, recall

    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_recall_vs_bruteforce(spark):
    """IVF gate on CLUSTERED vectors — the data regime IVF exists for.
    (The sf0.01 embeddings table is near-uniform on the sphere — random
    pairwise cosine ≈ 0, max ≈ 0.44 — where no coarse quantizer can
    give high recall at low scan fraction; on clustered data the
    spherical-k-means pivots must reach recall ≥ 0.9 probing 2 of 16
    cells, i.e. scanning ~12% of the corpus.)"""
    import numpy as np

    from contessa_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.RandomState(7)
    centers = rng.randn(16, 16)
    rows = []
    vid = 0
    for c in range(16):
        for _ in range(40):
            v = centers[c] + 0.3 * rng.randn(16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") % 40 == 0)  # one query per cluster
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            emb, q, k=5, n_cells=16, n_probe=2, train_iters=3
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall

    # hash-sampled training (the 10^9-vector path): quantizer trained
    # on half the corpus must still hit the gate
    sampled = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            emb, q, k=5, n_cells=16, n_probe=2, train_iters=3,
            train_fraction=0.5,
        ).collect()
    }
    recall_s = len(exact & sampled) / len(exact)
    assert recall_s >= 0.9, recall_s


def test_ivf_pivot_init_plan_no_global_sort(spark):
    """The IVF train sample (whose first rows are the pivot init) must
    be TakeOrderedAndProject (per-partition n-row heap), never a global
    Sort of the train set (r2 VERDICT item) — with and without the
    hash-threshold fraction."""
    from pyspark.sql import functions as F

    from contessa_spark.operators.similarity import _ivf_train_sample

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    train = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    )
    for fraction in (None, 0.5):
        plan = (
            _ivf_train_sample(train, "_cv", 42, fraction, 100_000)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "Sort " not in plan
        assert "Exchange rangepartitioning" not in plan


def test_dedup_components_semantics(spark):
    """Min-label propagation: triangle + chain + pair + singleton; a
    10-node path exercises multi-round convergence (diameter rounds)."""
    from contessa_spark.operators.dedup import dedup_components

    spark.catalog.clearCache()
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)]
    pairs += [(100 + i, 100 + i + 1) for i in range(9)]  # path 100..109
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 99] + list(range(100, 110))],
        "doc_id long",
    )
    comps = dedup_components(pdf, all_ids=ids)
    # the edge list is released before the labels are even read
    assert _nothing_cached(spark)
    got = {r["doc_id"]: r["component_id"] for r in comps.collect()}
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
        99: 99,
        **{100 + i: 100 for i in range(10)},
    }
    # keep list = rows where id == component: one per component
    keeps = sorted(k for k, v in got.items() if k == v)
    assert keeps == [1, 10, 20, 99, 100]


def test_corpus_line_dedup_semantics(spark):
    """Cross-doc: each distinct line survives once, at its globally
    first (doc_id, idx) occurrence; docs rebuild in internal order."""
    from contessa_spark.operators.dedup import corpus_line_dedup

    docs = spark.createDataFrame(
        [
            (1, "nav bar\nunique one\nfooter"),
            (2, "nav bar\nunique two\nfooter"),   # nav/footer dropped
            (3, "unique one\nunique three"),       # "unique one" dropped
            (4, "nav bar"),                        # everything dropped
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in corpus_line_dedup(docs).collect()}
    assert got[1]["clean_text"] == "nav bar\nunique one\nfooter"
    assert (got[1]["n_lines"], got[1]["n_kept"]) == (3, 3)
    assert got[2]["clean_text"] == "unique two"
    assert (got[2]["n_lines"], got[2]["n_kept"]) == (3, 1)
    assert got[3]["clean_text"] == "unique three"
    assert got[4]["clean_text"] == "" and got[4]["n_kept"] == 0


def test_dedup_components_raises_when_unconverged(spark):
    """Hitting max_iters with labels still shrinking must RAISE —
    silently returning split components would leave duplicates in the
    derived keep-list (ADVICE r3)."""
    import pytest

    from contessa_spark.operators.dedup import dedup_components

    # path graph 0-1-2-...-9: diameter 9, needs more than 2 rounds
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        dedup_components(pairs, max_iters=2)
    assert _nothing_cached(spark)
    with pytest.raises(ValueError, match="max_iters"):
        dedup_components(pairs, max_iters=0)


def _near_dup_families():
    """One small call per banded near-dup family, keyed by name."""
    from contessa_spark.operators.audio_dedup import audio_near_dups
    from contessa_spark.operators.image_dedup import image_near_dups
    from contessa_spark.operators.similarity import hyperplane_lsh_join

    def docs(spark):
        rows = [(i, f"near dup body {i % 5} shared words tail {i % 3}") for i in range(40)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def fingerprints(spark, col):
        rows = [(i, (i % 7) * 0x9E3779B97F4A7C15 % (1 << 31)) for i in range(40)]
        return spark.createDataFrame(rows, f"media_id long, {col} long")

    def vectors(spark):
        rows = [(i, [float(i % 4), 1.0, float(i % 3)]) for i in range(40)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    return {
        "minhash": lambda spark: minhash_lsh_candidates(docs(spark), threshold=0.1),
        "simhash": lambda spark: simhash_near_dups(docs(spark)),
        "image": lambda spark: image_near_dups(fingerprints(spark, "dhash")),
        "audio": lambda spark: audio_near_dups(fingerprints(spark, "afp")),
        "hyperplane": lambda spark: hyperplane_lsh_join(vectors(spark), threshold=0.9, dim=3),
    }


@pytest.mark.parametrize("family", ["minhash", "simhash", "image", "audio", "hyperplane"])
def test_near_dup_families_leave_nothing_persisted(spark, leaves_nothing, family):
    """No banded near-dup family leaves an RDD persisted or a plan
    cached after its result is consumed."""
    with leaves_nothing():
        assert _near_dup_families()[family](spark).collect()


def test_hyperplane_lsh_join_declared_dim(spark):
    """The declared-dim fast path must skip inference yet agree with
    the inferred path; a WRONG declared dim must raise loudly instead
    of silently bucketing and scoring the wrong width (ADVICE r3)."""
    import pytest

    from contessa_spark.operators.similarity import hyperplane_lsh_join

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    inferred = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in hyperplane_lsh_join(emb, threshold=0.3).collect()
    }
    declared = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in hyperplane_lsh_join(emb, threshold=0.3, dim=64).collect()
    }
    assert declared == inferred and len(declared) > 0

    with pytest.raises(Exception, match="declared dim=16"):
        hyperplane_lsh_join(emb, threshold=0.3, dim=16).collect()


def test_substring_dedup_semantics(spark):
    """Lee et al. repeated-span removal at k=3: keep the globally first
    occurrence, strip every later one; overlapping flags merge into
    maximal runs; sub-k shared spans survive; self-repetition inside
    one doc is stripped too."""
    from contessa_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [
            # doc 1 is the first occurrence of "x y z w v" — kept whole
            (1, "a b x y z w v c d"),
            # doc 2 repeats the 5-word span → all 5 words stripped (one span)
            (2, "p q x y z w v r"),
            # doc 3 shares only 2 words ("x y" < k=3) → untouched
            (3, "m x y n o"),
            # doc 4: self-repetition "e f g e f g" → second run stripped
            (4, "e f g e f g"),
            # doc 5: three separate repeated runs → 3 spans
            (5, "x y z TWO SEPARATE w v c d MARKER x y z"),
            # doc 6: shorter than k
            (6, "one two"),
            (7, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in substring_dedup(docs, k=3).collect()}

    assert got[1]["clean_text"] == "a b x y z w v c d"
    assert got[1]["n_removed_words"] == 0 and got[1]["n_spans"] == 0

    assert got[2]["clean_text"] == "p q r"
    assert got[2]["n_removed_words"] == 5 and got[2]["n_spans"] == 1
    assert got[2]["n_words"] == 8

    assert got[3]["clean_text"] == "m x y n o"

    assert got[4]["clean_text"] == "e f g"
    assert got[4]["n_removed_words"] == 3 and got[4]["n_spans"] == 1

    # doc 5: "x y z" (first seen in doc 1's "x y z w v"? NO — doc 1 has
    # "x y z" at pos 2, which is the global first) and "w v c d" (doc 1
    # pos 5 "w v c" + pos 6 "v c d" first) → both repeats stripped here
    assert got[5]["clean_text"] == "TWO SEPARATE MARKER"
    assert got[5]["n_spans"] == 3  # [x y z], [w v c d], [x y z]
    assert got[5]["n_removed_words"] == 10

    assert got[6]["clean_text"] == "one two" and got[6]["n_words"] == 2
    assert got[7]["clean_text"] == "" and got[7]["n_words"] == 0


def test_substring_dedup_first_occurrence_is_doc_ordered(spark):
    """'First' = min (doc_id, pos): the lowest doc id keeps the span
    even when it appears later in the input order."""
    from contessa_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [(9, "s t u v"), (2, "s t u v")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["clean_text"] for r in substring_dedup(docs, k=3).collect()}
    assert got[2] == "s t u v"
    assert got[9] == ""


def test_dedup_components_pointer_jump_log_rounds(spark):
    """Pointer doubling must collapse a long chain in O(log d) rounds:
    a 200-node path (diameter 199) converges within 12 rounds with
    pointer_jump, while plain neighbor propagation needs ~199 and must
    raise at the same cap."""
    import pytest

    from contessa_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup_components(pairs, max_iters=12).collect()
    }
    assert got == {i: 0 for i in range(200)}

    with pytest.raises(ValueError, match="did not converge"):
        dedup_components(pairs, max_iters=12, pointer_jump=False)


def test_substring_dedup_drop_all_mode(spark):
    """keep_first=False strips EVERY occurrence of a duplicated span —
    no copy survives anywhere."""
    from contessa_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d KEEP1"), (2, "a b c d KEEP2")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["clean_text"]
        for r in substring_dedup(docs, k=3, keep_first=False).collect()
    }
    assert got == {1: "KEEP1", 2: "KEEP2"}


def test_substring_dedup_plan_shape(spark):
    """Every intermediate has one consumer: the gram UDF runs once,
    nothing is cached, each gram's count and first occurrence come from
    one window partitioned by gh, and the only join puts the flags onto
    the input. The scan prunes to (doc_id, text) — no quadratic stage
    exists in this plan by construction."""
    import re

    from contessa_spark.operators.dedup import substring_dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = (
        substring_dedup(docs, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("ArrowEvalPython [_gh(") == 1
    assert "InMemoryTableScan" not in plan
    assert re.search(r"Window \[count\(1\) .*min\(.*\], \[gh#\d+L\]", plan)
    joins = re.findall(r"\w+Join .*", plan)
    assert len(joins) == 1 and "LeftOuter" in joins[0]
    for rs in re.findall(r"ReadSchema: (\S+)", plan):
        assert "lang" not in rs and "source" not in rs


def test_corpus_sentence_dedup_semantics(spark):
    """Sentence-granularity corpus dedup: each distinct sentence
    survives once at its global first occurrence; split keeps trailing
    punctuation and the final unterminated fragment."""
    from contessa_spark.operators.dedup import corpus_sentence_dedup

    docs = spark.createDataFrame(
        [
            (1, "Common intro. Unique one! Trailing frag"),
            (2, "Common intro. Unique two? More"),
            (3, "Unique one! Solo."),
            # terminator + trailing whitespace must NOT leave an empty
            # span (would inflate n_sentences and let '' participate in
            # cross-document dedup)
            (4, "Hello there. "),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in corpus_sentence_dedup(docs).collect()}
    assert got[1]["clean_text"] == "Common intro. Unique one! Trailing frag"
    assert (got[1]["n_sentences"], got[1]["n_kept"]) == (3, 3)
    assert got[2]["clean_text"] == "Unique two? More"
    assert (got[2]["n_sentences"], got[2]["n_kept"]) == (3, 2)
    assert got[3]["clean_text"] == "Solo."
    assert (got[3]["n_sentences"], got[3]["n_kept"]) == (2, 1)
    assert got[4]["clean_text"] == "Hello there."
    assert (got[4]["n_sentences"], got[4]["n_kept"]) == (1, 1)
    assert got[5]["clean_text"] == ""
    assert (got[5]["n_sentences"], got[5]["n_kept"]) == (0, 0)


def _embedding_ops():
    """The eight embedding operators, each as ``(corpus, queries) ->
    DataFrame`` at settings that give every one of them rows on the
    31-vector corpus of ``test_ann_zero_norm_vectors_never_rank``."""
    from contessa_spark.operators.clustering import kmeans_embeddings
    from contessa_spark.operators.decontaminate import semantic_contamination
    from contessa_spark.operators.dedup import embedding_near_dups_blocked
    from contessa_spark.operators.semantic import semantic_dedup
    from contessa_spark.operators.similarity import (
        brute_force_topk,
        hyperplane_lsh_join,
        hyperplane_lsh_topk,
        ivf_topk,
    )

    return {
        "brute_force_topk": lambda emb, q: brute_force_topk(emb, q, k=5),
        "hyperplane_lsh_topk": lambda emb, q: hyperplane_lsh_topk(emb, q, k=5, n_bits=2, n_tables=4),
        "ivf_topk": lambda emb, q: ivf_topk(emb, q, k=5, n_cells=4, n_probe=4),
        "hyperplane_lsh_join": lambda emb, q: hyperplane_lsh_join(emb, threshold=0.0, n_bits=2, n_tables=4),
        "embedding_near_dups_blocked": lambda emb, q: embedding_near_dups_blocked(emb, threshold=0.0, block_size=8),
        "semantic_dedup": lambda emb, q: semantic_dedup(emb, threshold=0.5, n_cells=3),
        "kmeans_embeddings": lambda emb, q: kmeans_embeddings(emb, k=3, iters=2),
        "semantic_contamination": lambda emb, q: semantic_contamination(emb, q, threshold=0.5),
    }


def _outcome(spark, op, rows, batch_rows=None):
    """``(row count, sha256 prefix of the sorted rows)`` of ``op`` over
    ``rows`` with queries ``vec_id < 3``, or the class of the exception
    that building or collecting it raised: ``"dim_check"`` for the
    per-row size guard's ``raise_error``, which Spark wraps in a class
    that depends on where the plan fails. ``batch_rows`` lowers
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` so that the
    operator's Arrow batches split mid-input."""
    import hashlib

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if batch_rows:
        spark.conf.set(conf, str(batch_rows))
    try:
        df = _embedding_ops()[op](emb, emb.where(F.col("vec_id") < 3))
        # repr keys: NULL and NaN cells do not order
        got = sorted(repr(tuple(r)) for r in df.select(sorted(df.columns)).collect())
    except Exception as e:  # the pinned outcome is the error class
        return "dim_check" if "USER_RAISED_EXCEPTION" in str(e) else type(e).__name__
    finally:
        spark.conf.set(conf, old)
    return len(got), hashlib.sha256(repr(got).encode()).hexdigest()[:12]


#: what each embedding operator returns on the zero-norm corpus and its
#: edge inputs: a NULL vector, a NaN component, no rows, and the
#: zero-norm corpus again in 4-row Arrow batches. A NULL vector fails
#: every size-checked operator at ``dim_check``; the blocked GEMM fails
#: in its worker; the contamination verdict reports it.
_EMPTY = (0, "4f53cda18c2b")
_EDGE_OUTCOMES = {
    "brute_force_topk": {"zero": (15, "9af6abeb2fb9"), "null": "dim_check", "nan": (15, "9af6abeb2fb9")},
    "embedding_near_dups_blocked": {"zero": (243, "7cd52405b7b0"), "null": "PythonException", "nan": (243, "7cd52405b7b0")},
    "hyperplane_lsh_join": {"zero": (200, "f0460683c77a"), "null": "dim_check", "nan": (200, "f0460683c77a")},
    "hyperplane_lsh_topk": {"zero": (15, "7c9259893736"), "null": "dim_check", "nan": (15, "7c9259893736")},
    "ivf_topk": {"zero": (15, "9af6abeb2fb9"), "null": "dim_check", "nan": (15, "9af6abeb2fb9")},
    "kmeans_embeddings": {"zero": (31, "330063a3130e"), "null": "dim_check", "nan": (32, "3671de872d29")},
    "semantic_contamination": {"zero": (31, "ee455dc188e5"), "null": (32, "3d200fa2ec92"), "nan": (32, "cc95c9bc5abb")},
    "semantic_dedup": {"zero": (30, "5555e6d08751"), "null": "dim_check", "nan": (31, "53d745886dd6")},
}


@pytest.mark.parametrize("op", sorted(_embedding_ops()))
def test_ann_zero_norm_vectors_never_rank(spark, op):
    """Zero-norm vectors produce NaN cosine, and Spark treats NaN as
    GREATER than any double (NaN >= t is true, NaN sorts first under
    desc) — so without explicit masking a zero embedding would claim
    rank 1 in every ANN operator. Every cosine operator drops them
    (k-means, whose L2 distance is defined there, keeps them; the
    contamination verdict reports them clean with a NULL cosine).
    The outcomes on the edge inputs are pinned per operator."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(30)]
    rows.append((99, [0.0] * 8))  # the zero-norm trap

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = _embedding_ops()[op](emb, emb.where(F.col("vec_id") < 3)).collect()
    assert got
    ids = [v for r in got for k, v in r.asDict().items() if k != "cell" and "id" in k]
    cosines = [v for r in got for k, v in r.asDict().items() if "cosine" in k]
    if op == "kmeans_embeddings":
        assert 99 in ids
    elif op == "semantic_contamination":
        assert [(r["max_cosine"], r["contaminated"]) for r in got if r["vec_id"] == 99] == [(None, False)]
    else:
        assert 99 not in ids
        assert all(not np.isnan(c) for c in cosines)

    nan_row = [float("nan")] + [1.0] * 7
    outcomes = {
        "zero": _outcome(spark, op, rows),
        "null": _outcome(spark, op, rows + [(98, None)]),
        "nan": _outcome(spark, op, rows + [(97, nan_row)]),
        "empty": _outcome(spark, op, []),
        "batches": _outcome(spark, op, rows, batch_rows=4),
    }
    assert outcomes == {**_EDGE_OUTCOMES[op], "empty": _EMPTY, "batches": outcomes["zero"]}


def test_brute_force_topk_partition_invariant_two_level(spark):
    """The two-level re-rank (per-partition merge before the global
    window) must be exact: identical output across physical layouts,
    and the window input is bounded by partitions×k, not batches×k."""
    import numpy as np

    from contessa_spark.operators.similarity import brute_force_topk

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 4)

    base = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in brute_force_topk(emb, q, k=7).collect()
    )
    for nparts in (1, 13):
        alt = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in brute_force_topk(emb.repartition(nparts), q, k=7).collect()
        )
        assert alt == base, nparts
    # bounded pre-window emission: ≤ partitions × k rows per query
    local_rows = (
        brute_force_topk(emb.repartition(13), q, k=7)
        .select("query_id")  # post-window; re-derive the bound from counts
        .groupBy("query_id")
        .count()
        .collect()
    )
    assert all(r["count"] <= 7 for r in local_rows)


def test_semantic_dedup_semantics(spark):
    """Keep-first-by-id within a cell at the cosine threshold; cells
    are independent; zero-norm vectors are excluded; output is
    layout-invariant."""
    from contessa_spark.operators.semantic import semantic_dedup

    # duplicate pairs share an identical cosine profile, so they are
    # GUARANTEED to co-assign to the same cell whatever the pivots are
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0, 0.0]),      # same direction as 1 → dropped
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 3.0, 0.0, 0.0]),      # same direction as 3 → dropped
        (5, [0.0, 0.0, 1.0, 0.0]),      # alone in its direction → kept
        (6, [0.0, 0.0, 0.0, 0.0]),      # zero-norm → excluded entirely
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semantic_dedup(
        emb, threshold=0.95, n_cells=3
    ).collect()}
    assert 6 not in out
    assert out[1]["keep"] and not out[2]["keep"]
    assert out[3]["keep"] and not out[4]["keep"]
    assert out[5]["keep"]
    # dropped doc shares its keeper's cell
    assert out[2]["cell"] == out[1]["cell"]
    assert out[4]["cell"] == out[3]["cell"]

    # layout invariance
    a = sorted(map(tuple, semantic_dedup(emb, threshold=0.95, n_cells=3).collect()))
    b = sorted(map(tuple, semantic_dedup(
        emb.repartition(7), threshold=0.95, n_cells=3
    ).collect()))
    assert a == b


def test_semantic_dedup_cell_cap_raises(spark):
    from contessa_spark.operators.semantic import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pytest as _pt

    with _pt.raises(Exception, match="max_cell_rows"):
        semantic_dedup(emb, threshold=0.4, n_cells=2, max_cell_rows=3).collect()
