"""Focused tests for the pair engine: the shared in-run pair generator
behind every group emitter, driver-side murmur3 partition prediction,
LPT group placement and the amortized chunk merge of the block-pair
counter — all must keep the exact-Jaccard output bit-identical."""
import itertools
import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from contessa_spark.operators import dedup
from contessa_spark.operators.dedup import (
    _count_block_pair,
    _emit_group_pairs,
    _murmur3_int,
    _partition_target_values,
    ngram_jaccard_pairs,
)


def test_murmur3_matches_spark_hash(spark):
    """The driver-side Murmur3 must equal Spark's F.hash for
    IntegerType values — placement prediction depends on it."""
    df = spark.range(0, 4096).select(F.col("id").cast("int").alias("x"))
    rows = df.select("x", F.hash("x").alias("h")).collect()
    for r in rows:
        assert _murmur3_int(r.x) == r.h


def test_partition_target_values_route_to_their_partition():
    for n in [1, 2, 7, 32, 91, 613]:
        tv = _partition_target_values(n)
        assert [(_murmur3_int(v) % n) for v in tv] == list(range(n))


def test_count_block_pair_matches_naive_sets():
    """Fuzz the numeric core (including tiny chunk sizes that force
    many pending-merge rounds) against a set-based oracle."""
    rng = random.Random(7)
    for trial in range(200):
        m = rng.randint(2, 40)
        vocab = rng.randint(1, 30)
        ids = np.array(rng.sample(range(1000), m), dtype=np.int64)
        sets = [
            sorted(rng.sample(range(vocab), rng.randint(0, min(vocab, 12))))
            for _ in range(m)
        ]
        lens = np.array([len(s) for s in sets], dtype=np.int64)
        hcat = np.array(
            list(itertools.chain.from_iterable(sets)), dtype=np.int64
        )
        diag = rng.random() < 0.5
        side = (
            np.zeros(m, dtype=np.int8)
            if diag
            else np.array([0] * (m // 2) + [1] * (m - m // 2), dtype=np.int8)
        )
        thr = rng.choice([0.0, 0.1, 0.3])
        chunk = rng.choice([4, 16, 1 << 21])
        ia, ib, c, _, _ = _count_block_pair(
            ids, lens.copy(), side, hcat, lens, diag, thr, chunk
        )
        got = {(int(a), int(b)): int(cc) for a, b, cc in zip(ia, ib, c)}
        want = {}
        for i in range(m):
            for j in range(i + 1, m):
                if not diag and side[i] == side[j]:
                    continue
                inter = len(set(sets[i]) & set(sets[j]))
                if inter == 0:
                    continue
                u = lens[i] + lens[j] - inter
                if u and inter / u >= thr:
                    a, b = sorted((int(ids[i]), int(ids[j])))
                    want[(a, b)] = inter
        assert got == want, f"trial {trial}"


def _emitted(emit, batches):
    outs = list(emit(iter(batches)))
    assert len(outs) == len(batches)  # one output batch per input batch
    for o in outs:  # ids are declared long whatever the input id type
        assert o.schema.field("id_a").type == o.schema.field("id_b").type == pa.int64()
    return {
        n: list(itertools.chain.from_iterable(o.column(n).to_pylist() for o in outs))
        for n in outs[0].schema.names
    }


def test_group_emitter_matches_nested_loops():
    """Fuzz the mapInArrow group emitter against a nested-loop set
    oracle: empty and 1-element groups, repeated ids within a group,
    unsorted lists, empty and sliced batches, and a struct payload that
    must stay aligned with its id."""
    rng = random.Random(11)

    def payload(cols, x, y):
        ids, p = cols["_id"], cols["_p"]
        return {"id_a": ids[x], "id_b": ids[y], "pa": p[x], "pb": p[y]}

    struct_t = pa.list_(pa.struct([("_id", pa.int64()), ("_p", pa.int64())]))
    for trial in range(300):
        batches, groups = [], []
        for _ in range(rng.randint(1, 3)):
            gs = [
                [rng.randint(0, 40) for _ in range(rng.choice([0, 1, 2, rng.randint(0, 25)]))]
                for _ in range(rng.randint(0, 8))
            ]
            # int ids too: the emitter must still emit long ids
            id_t = rng.choice([pa.int64(), pa.int32()])
            b = pa.RecordBatch.from_arrays(
                [pa.array(gs, type=pa.list_(id_t))], names=["_ids"]
            )
            if gs and rng.random() < 0.3:  # a sliced batch: nonzero offsets
                b, gs = b.slice(1), gs[1:]
            batches.append(b)
            groups.extend(gs)
        want = sorted((a, b) for g in groups for a in set(g) for b in set(g) if a < b)
        got = _emitted(_emit_group_pairs(), batches)
        assert sorted(zip(got["id_a"], got["id_b"])) == want, f"trial {trial}"

        sbatches = [
            pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        [[{"_id": i, "_p": 7 * i + 1} for i in g] for g in b.column(0).to_pylist()],
                        type=struct_t,
                    )
                ],
                names=["_docs"],
            )
            for b in batches
        ]
        got = _emitted(_emit_group_pairs(payload), sbatches)
        assert sorted(zip(got["id_a"], got["id_b"])) == want, f"trial {trial}"
        assert got["pa"] == [7 * i + 1 for i in got["id_a"]]
        assert got["pb"] == [7 * i + 1 for i in got["id_b"]]

    empty = pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.list_(pa.int64()))], names=["_ids"]
    )
    assert _emitted(_emit_group_pairs(), [empty]) == {"id_a": [], "id_b": []}


def _pair_set(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "case", [64, 130, 100000, "docs40", "empty", "hashed", "int_ids"]
)
def test_blocked_pairs_invariant_to_block_size(spark, monkeypatch, case):
    """Every placement of the block-pair groups returns the default
    call's pair set: LPT bins over many groups (small block_docs) and
    over few, one group on a 40-doc frame (B=1, nG ≤
    defaultParallelism), an empty frame, the hashed group index above
    the LPT group limit, and an int id column."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = _pair_set(ngram_jaccard_pairs(docs, k=3, threshold=0.1))
    if case == "docs40":
        small = docs.where(F.col("doc_id") < 40)
        ids = {r.doc_id for r in small.select("doc_id").collect()}
        assert len(ids) == 40
        want = [p for p in ref if p[0] in ids and p[1] in ids]
        assert want
        assert _pair_set(ngram_jaccard_pairs(small, k=3, threshold=0.1)) == want
    elif case == "empty":
        assert _pair_set(ngram_jaccard_pairs(docs.limit(0), k=3, threshold=0.1)) == []
    elif case == "hashed":

        def no_lpt(n):
            raise AssertionError("LPT placement used above the group limit")

        monkeypatch.setattr(dedup, "_LPT_MAX_GROUPS", 4)
        monkeypatch.setattr(dedup, "_partition_target_values", no_lpt)
        out = ngram_jaccard_pairs(docs, k=3, threshold=0.1, block_docs=64)
        assert _pair_set(out) == ref
    elif case == "int_ids":
        int_docs = docs.withColumn("doc_id", F.col("doc_id").cast("int"))
        assert _pair_set(ngram_jaccard_pairs(int_docs, k=3, threshold=0.1)) == ref
    else:
        out = ngram_jaccard_pairs(docs, k=3, threshold=0.1, block_docs=case)
        assert _pair_set(out) == ref
