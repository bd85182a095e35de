import contextlib
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from contessa_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("contessa_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def leaves_nothing(spark):
    """Context manager: releases every persisted RDD and cached plan,
    runs the block, then asserts the block left neither behind.
    ``getPersistentRDDs`` sees ``localCheckpoint`` and RDD-level
    ``persist``; the CacheManager sees ``DataFrame.persist``/``cache``."""
    jsc = spark.sparkContext._jsc

    @contextlib.contextmanager
    def check():
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        spark.catalog.clearCache()
        yield
        left = [str(rdd) for rdd in jsc.getPersistentRDDs().values()]
        assert not left, f"persisted RDDs left behind: {left}"
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), "cached plans left behind"

    return check


class JobGroups:
    """Spark jobs and SQL executions per job group. ``label(fn, group)``
    is ``fn`` with its Spark jobs in job group ``group``; ``counts``
    gives each group's jobs and SQL executions (distinct
    ``spark.sql.execution.id``: one per DataFrame action, however many
    jobs AQE splits it into)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext

    def label(self, fn, group):
        sc = self.sc

        def wrapped(*args, **kwargs):
            sc.setJobGroup(group, group)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        return wrapped

    def counts(self, groups):
        """``{group: (jobs, executions)}``, once the status listeners
        have seen every job so far: the job and SQL listeners share one
        queue, and a sentinel job is registered only after all earlier
        events."""
        tracker, jvm = self.sc.statusTracker(), self.sc._jvm
        sentinel = f"sentinel-{time.monotonic_ns()}"
        self.label(lambda: self.sc.parallelize([1], 1).count(), sentinel)()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(sentinel):
            assert time.time() < deadline, "job listener never caught up"
            time.sleep(0.05)
        to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        store = self.spark._jsparkSession.sharedState().statusStore()
        execution_jobs = [set(to_java(ex.jobs()).keySet()) for ex in to_java(store.executionsList())]
        out = {}
        for g in groups:
            jobs = set(tracker.getJobIdsForGroup(g))
            out[g] = (len(jobs), sum(1 for ids in execution_jobs if ids & jobs))
        return out


@pytest.fixture
def job_groups(spark):
    return JobGroups(spark)


#: letters of the high-vocabulary corpus: lowercase Latin, Latin-1,
#: Greek, Cyrillic and CJK, a few capitals (so lowering merges some raw
#: words), the code points whose case mapping is special — ``İ`` lowers
#: to two code points, ``ǅ`` is titlecase, ``Σ`` lowers to final ``ς``
#: at a word's end — and NUL, which is not whitespace
_HV_LETTERS = list("etaoinshrdlucmfwypvbgkjqxzéßäøçñσςοδωλжя漢字ETAOΣΟЖÉ") + ["İ", "ǅ", "\x00"]
#: separators: every one is whitespace to ``str.split()``, including
#: NEL (U+0085) and the C0 separators U+001C–001F
_HV_SEPS = [" "] * 12 + ["  ", "\n", "\t", "\x85", "\x1c", "\x1d", "\x1e", "\x1f", "　", "\xa0"]


def high_vocab_texts(n_tokens: int = 1_000_000, doc_words: int = 120, seed: int = 11):
    """A seeded corpus whose vocabulary grows by Heaps' law: the i-th
    token is a new word with probability ``K·β·i^(β−1)`` (K = 10,
    β = 0.7, so ~1.6·10⁵ distinct words at 10⁶ tokens), otherwise a
    log-uniformly ranked earlier word (Zipf-like). Word i spells i in
    base ``len(_HV_LETTERS)``; separators are drawn from ``_HV_SEPS``.
    The first texts are NULL, empty, whitespace-only and
    leading/trailing-whitespace edge cases."""
    import numpy as np

    rng = np.random.default_rng(seed)
    i = np.arange(1, n_tokens + 1, dtype=np.float64)
    new = rng.random(n_tokens) < np.minimum(1.0, 10 * 0.7 * i ** -0.3)
    vocab = np.cumsum(new)
    old = (vocab.astype(np.float64) ** rng.random(n_tokens)).astype(np.int64)
    ids = np.where(new, vocab, np.minimum(old, vocab))
    base = len(_HV_LETTERS)

    def spell(n):
        out = []
        while True:
            n, r = divmod(n, base)
            out.append(_HV_LETTERS[r])
            if n == 0:
                return "".join(out)

    words = [spell(int(n)) for n in range(int(vocab[-1]) + 1)]
    seps = rng.integers(0, len(_HV_SEPS), n_tokens)
    texts = [None, "", " \t\x85\x1c　 ", "  lead", "trail\x1f ", "\x1e İΣ ǅΣ Σ\x00Σ "]
    for d in range(0, n_tokens, doc_words):
        end = min(d + doc_words, n_tokens)
        texts.append("".join(words[ids[j]] + _HV_SEPS[seps[j]] for j in range(d, end)))
    return texts


@pytest.fixture(scope="session")
def high_vocab():
    return high_vocab_texts()
