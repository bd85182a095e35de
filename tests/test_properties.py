"""Property-based tests (hypothesis) for the pure cores + golden SQL
for the Iceberg writer. These don't need Spark — they pin invariants
the distributed paths rely on."""

from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from contessa_spark.functions import langid, perplexity, scrub, textstats
from contessa_spark.functions.annotate_udf import annotate_rows
from contessa_spark.sources.webgen import gen_row

text_st = st.text(max_size=400)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_scrub_idempotent(t):
    once = scrub.scrub_text(t)
    assert scrub.scrub_text(once) == once


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_scrub_removes_all_pii(t):
    out = scrub.scrub_text(t + " a@b.co 123-45-6789")
    assert scrub.EMAIL_RE.search(out) is None
    assert scrub.SSN_RE.search(out) is None
    assert scrub.TOXIC_RE.search(out) is None


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_stats_bounded(t):
    assert 0.0 <= textstats.py_symbol_ratio(t) <= 1.0
    assert 0.0 <= textstats.py_repetition(t) <= 1.0
    assert 0.0 <= textstats.py_stopword_frac(t) <= 1.0
    assert textstats.py_mean_word_len(t) >= 0.0
    assert perplexity.perplexity(t) > 0.0
    lang, conf = langid.detect(t)
    assert 0.0 <= conf <= 1.0
    assert lang == "und" or lang in langid.LANGS


@given(text_st)
@example("a a\x00b")  # tokens that differ only after a NUL stay apart
@settings(max_examples=100, deadline=None)
def test_fused_annotate_matches_single_signal_forms(t):
    """The fused batch core must equal the independent py_* functions
    on arbitrary unicode input (the oracle contract)."""
    cols = annotate_rows([t])
    assert cols["symbol_ratio"][0] == textstats.py_symbol_ratio(t)
    assert cols["repetition"][0] == textstats.py_repetition(t)
    assert cols["stopword_frac"][0] == textstats.py_stopword_frac(t)
    assert cols["mean_word_len"][0] == textstats.py_mean_word_len(t)
    assert cols["ppl"][0] == perplexity.perplexity(t)
    scrubbed = cols["scrubbed_text"][0]
    expect = scrub.scrub_text(t)
    assert (scrubbed if scrubbed is not None else t) == expect


@given(st.integers(min_value=0, max_value=10_000_000), st.integers(min_value=0, max_value=1000))
@settings(max_examples=100, deadline=None)
def test_generator_pure_function_of_seed_and_id(i, seed):
    a = gen_row(i, seed)
    b = gen_row(i, seed)
    assert a == b
    assert a["url"].startswith("https://")
    assert isinstance(a["html"], bytes)
    assert a["lang"] in langid.LANGS


def test_iceberg_merge_sql_golden():
    """MERGE INTO text for the contessa upsert identity
    (contessa/db.py:61-88 → Iceberg MERGE)."""
    from contessa_spark.results import UPSERT_KEY, IcebergMergeWriter

    sql = IcebergMergeWriter.__new__(IcebergMergeWriter).merge_sql(
        "warehouse.dq.quality_check_pages", "batch", UPSERT_KEY
    )
    assert sql == (
        "MERGE INTO warehouse.dq.quality_check_pages t USING batch s ON "
        "t.attribute <=> s.attribute AND t.rule_name <=> s.rule_name AND "
        "t.rule_type <=> s.rule_type AND t.task_ts <=> s.task_ts AND "
        "t.time_filter <=> s.time_filter "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )


def test_time_filter_sql_text_golden():
    """Spark-SQL render parity with the reference's golden strings
    (test/unit/test_executor.py:22-94 shape, Spark literal syntax)."""
    from contessa_spark.time_filter import TimeFilter, TimeFilterColumn, parse_time_filter

    now = datetime(2018, 9, 12, 12, 0, 0)
    tf = parse_time_filter("created_at")
    assert tf.sql_text(now) == (
        "(created_at >= TIMESTAMP '2018-08-13 12:00:00' AND created_at < TIMESTAMP '2018-09-12 12:00:00')"
    )
    tf2 = TimeFilter(
        columns=[
            TimeFilterColumn("a", since=timedelta(days=1), until="now"),
            TimeFilterColumn("b", since=timedelta(days=2), until="now"),
        ]
    )
    assert " OR " in tf2.sql_text(now)


@given(text_st, st.integers(min_value=1, max_value=6))
@settings(max_examples=200, deadline=None)
def test_dup_and_top_ngram_fracs_properties(t, n):
    from contessa_spark.operators.text_analysis import (
        py_dup_ngram_char_frac,
        py_top_ngram_char_frac,
    )

    dup = py_dup_ngram_char_frac(t, n)
    assert 0.0 <= dup <= 1.0
    top = py_top_ngram_char_frac(t, n)
    assert top >= 0.0  # uncapped by convention (overlaps), but never negative
    # a doc with fewer than n words has no grams
    if len(t.split()) < n:
        assert dup == 0.0 and top == 0.0


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_media_decoders_never_raise_on_garbage(b):
    """The pure decode cores must return ok=False on arbitrary garbage
    (any raise inside the containment try/except means a lost row;
    outside it, a failed job)."""
    from contessa_spark.operators.multimodal import (
        decode_mp4_bytes,
        decode_wav_bytes,
    )

    payload = b.encode("utf-8", "surrogatepass")
    assert decode_wav_bytes(payload)["ok"] in (True, False)
    assert decode_mp4_bytes(payload)["ok"] in (True, False)
    # prefix with the magics so the walkers actually engage
    assert decode_wav_bytes(b"RIFF" + payload)["ok"] in (True, False)
    assert decode_mp4_bytes(b"\x00\x00\x00\x10ftypisom" + payload)["ok"] in (
        True,
        False,
    )


@given(st.binary(max_size=120))
@settings(max_examples=200, deadline=None)
def test_jpeg_marker_walk_never_raises(b):
    from contessa_spark.operators.multimodal import _decode_jpeg

    d = _decode_jpeg(b"\xff\xd8\xff" + b)
    assert d["ok"] in (True, False)


# ---------------------------------------------------------------- r4 cores

_word_st = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)


@given(st.dictionaries(_word_st, st.integers(min_value=1, max_value=50),
                       min_size=1, max_size=20),
       st.integers(min_value=0, max_value=40))
@settings(max_examples=60, deadline=None)
def test_bpe_roundtrip_any_vocab(word_counts, n_merges):
    """decode(encode(w)) == w for EVERY word under ANY trained merge
    table — including words never seen in training."""
    from contessa_spark.functions.bpe import (
        decode_tokens,
        encode_word,
        train_bpe_from_counts,
    )

    merges = train_bpe_from_counts(word_counts, n_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in list(word_counts) + ["unseen", "xyzzy", ""]:
        assert decode_tokens(encode_word(w, ranks)) == w


@given(st.dictionaries(_word_st, st.integers(min_value=1, max_value=50),
                       min_size=1, max_size=15))
@settings(max_examples=40, deadline=None)
def test_bpe_training_order_independent(word_counts):
    from contessa_spark.functions.bpe import train_bpe_from_counts

    a = train_bpe_from_counts(word_counts, 30)
    b = train_bpe_from_counts(dict(reversed(list(word_counts.items()))), 30)
    assert a == b


@given(st.dictionaries(st.text(min_size=1, max_size=6),
                       st.integers(min_value=1, max_value=10_000),
                       min_size=1, max_size=10),
       st.dictionaries(st.text(min_size=1, max_size=6),
                       st.one_of(st.just(0.0),
                                 st.floats(min_value=1e-9, max_value=1.0,
                                           allow_nan=False)),
                       max_size=10))
@settings(max_examples=100, deadline=None)
def test_mixture_fractions_invariants(counts, weights):
    """Fractions ∈ [0,1]; some stratum binds at exactly 1 when any
    weighted stratum exists; achieved expected counts are proportional
    to the target weights (the defining property)."""
    from contessa_spark.operators.sampling import mixture_fractions

    fr = mixture_fractions(counts, weights)
    assert set(fr) == set(counts)
    assert all(0.0 <= f <= 1.0 for f in fr.values())
    weighted = [s for s in counts if weights.get(s, 0.0) > 0]
    if weighted:
        assert any(abs(fr[s] - 1.0) < 1e-12 for s in weighted)
        # proportionality: frac_s * n_s / w_s constant across strata
        ratios = [
            fr[s] * counts[s] / weights[s]
            for s in weighted
            if weights[s] > 0
        ]
        assert max(ratios) - min(ratios) <= 1e-6 * max(ratios)
    else:
        assert all(f == 0.0 for f in fr.values())


@given(st.lists(st.text(min_size=0, max_size=40), min_size=0, max_size=50),
       st.floats(min_value=1e-4, max_value=0.5))
@settings(max_examples=40, deadline=None)
def test_bloom_core_no_false_negatives(values, fpp):
    """Pure-core bloom check: every inserted value tests positive."""
    import numpy as np

    from contessa_spark.hashing import fnv1a
    from contessa_spark.operators.incremental import _positions, bloom_params

    m_bits, k = bloom_params(max(1, len(values)), fpp)
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    h1 = fnv1a(values)
    for pos in _positions(h1, m_bits, k):
        np.bitwise_or.at(
            words, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )
    hit = np.ones(len(values), dtype=bool)
    for pos in _positions(h1, m_bits, k):
        bit = (
            words[(pos >> np.uint64(6)).astype(np.int64)]
            >> (pos & np.uint64(63))
        ) & np.uint64(1)
        hit &= bit.astype(bool)
    assert hit.all()


# ---------------------------------------------------------------- r5 cores

@given(st.integers(min_value=0, max_value=10**9),
       st.integers(min_value=1, max_value=8))
@settings(max_examples=150, deadline=None)
def test_jpeg_entropy_corruption_contained(seed, nflips):
    """Bit-flipping a VALID baseline scan must never raise out of
    _decode_jpeg: the entropy decoder's failure mode is mean=None (and
    dims survive), not a lost row. Random garbage rarely reaches the
    Huffman path — this starts from a real stream so it always does."""
    import random

    from contessa_spark.operators.multimodal import _decode_jpeg
    from tests.test_multimodal import _encode_baseline_jpeg_gray

    base = bytearray(_encode_baseline_jpeg_gray([100, 200, 50, 250], 2))
    rnd = random.Random(seed)
    for _ in range(nflips):
        i = rnd.randrange(2, len(base))  # keep SOI intact
        base[i] ^= 1 << rnd.randrange(8)
    d = _decode_jpeg(bytes(base))
    assert d["ok"] in (True, False)
    assert d["mean_byte"] is None or 0 <= d["mean_byte"] <= 255


@given(st.binary(max_size=120))
@settings(max_examples=200, deadline=None)
def test_image_container_walkers_never_raise(b):
    """GIF/BMP/WebP/PNG walkers under the same garbage contract as the
    WAV/MP4 ones."""
    from contessa_spark.operators.multimodal import (
        _decode_bmp,
        _decode_gif,
        _decode_webp,
    )

    assert _decode_gif(b"GIF89a" + b)["ok"] in (True, False)
    assert _decode_bmp(b"BM" + b)["ok"] in (True, False)
    assert _decode_webp(b"RIFF\x00\x00\x00\x00WEBP" + b)["ok"] in (True, False)
    # (decode_image_bytes raises NotImplementedError on unknown magics
    # BY DESIGN — the documented library swap-in stub; the Spark path
    # contains it per record)


@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                min_size=1, max_size=60))
@settings(max_examples=30, deadline=None)
def test_pagerank_integer_core_invariants(edges):
    """Pure-python replica of the integer PageRank recurrence: rank
    mass never exceeds n·SCALE (dangling nodes only LEAK mass, never
    mint it) and every rank stays ≥ base. The Spark operator is golden-
    and layout-tested against this same arithmetic elsewhere."""
    from contessa_spark.operators.linkgraph import SCALE

    e = sorted({(s, d) for s, d in edges})
    nodes = sorted({x for p in e for x in p})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = 15 * SCALE // 100
    r = {n: SCALE for n in nodes}
    for _ in range(3):
        nxt = {n: base for n in nodes}
        for s, d in e:
            nxt[d] += (r[s] * 85) // (100 * outdeg[s])
        r = nxt
    assert sum(r.values()) <= len(nodes) * SCALE
    assert all(v >= base for v in r.values())


_urlish = st.one_of(
    st.text(max_size=40),
    st.builds(
        lambda scheme, sub, dom, suf, port, path: f"{scheme}://{sub}{dom}{suf}{port}{path}",
        st.sampled_from(["http", "https", "HTTP", "ftp"]),
        st.sampled_from(["", "www.", "WWW.", "a.b.", "cdn."]),
        st.text(alphabet="abcXYZ09-", min_size=1, max_size=10),
        st.sampled_from([".com", ".co.uk", ".org", ".com.au", "", ".x.y.z"]),
        st.sampled_from(["", ":80", ":443", ":8080"]),
        st.sampled_from(["", "/", "/a/b?q=1#f"]),
    ),
)


@given(_urlish)
@settings(max_examples=300, deadline=None)
def test_registrable_domain_python_matches_duckdb(url):
    """The SQL scalar form and the pure core must agree on ANY input —
    the oracle hash-match depends on it."""
    import duckdb

    from contessa_spark.functions.domain import (
        py_registrable_domain,
        registrable_domain_sql,
    )

    con = duckdb.connect()
    got = con.execute(
        f"SELECT {registrable_domain_sql('url')} FROM (SELECT ? AS url)",
        [url],
    ).fetchone()[0]
    assert got == py_registrable_domain(url), url


# ------------------------------------------------------------ hashing


def _fnv_ref(s, bits=64, init=None):
    """Scalar FNV-1a over a string's UTF-8 bytes: the reference every
    ``hashing`` kernel is checked against."""
    basis, prime = (0xCBF29CE484222325, 0x100000001B3) if bits == 64 else (2166136261, 16777619)
    h = basis if init is None else init
    for b in (s or "").encode("utf-8"):
        h = ((h ^ b) * prime) & ((1 << bits) - 1)
    return h


@given(st.lists(st.one_of(st.none(), st.text(max_size=30)), max_size=80),
       st.sampled_from([64, 32]), st.data())
@settings(max_examples=150, deadline=None)
def test_fnv1a_matches_scalar_reference(strs, bits, data):
    """List, sliced (non-zero offset) and chunked Arrow inputs all hash
    like the scalar loop; NULL hashes as the empty string. The drawn
    list is repeated so the vectorized byte passes run, not only the
    scalar tail."""
    import pyarrow as pa

    from contessa_spark.hashing import _SCALAR_TAIL, fnv1a

    strs = strs * (2 * _SCALAR_TAIL)
    want = [_fnv_ref(s, bits) for s in strs]
    assert fnv1a(strs, bits).tolist() == want
    padded = pa.array(["pad"] + strs + ["pad"], pa.string())
    assert fnv1a(padded.slice(1, len(strs)), bits).tolist() == want
    cut = data.draw(st.integers(min_value=0, max_value=len(strs)))
    chunked = pa.chunked_array(
        [pa.array(strs[:cut], pa.string()), pa.array(strs[cut:], pa.string())]
    )
    assert fnv1a(chunked, bits).tolist() == want


def test_fnv1a_scalar_tail_long_string():
    """A 25k-byte token among many short ones: the vectorized passes
    stop once fewer than the tail threshold remain, and the scalar tail
    finishes the long strings from their current state."""
    from contessa_spark.hashing import _SCALAR_TAIL, fnv1a

    strs = ["é漢" * 5000 + "x"] + [f"w{i}" * (i % 7) for i in range(3 * _SCALAR_TAIL)]
    strs += ["y" * 300, "z" * 299, None, ""]
    assert len(strs[0].encode("utf-8")) > 25_000
    for bits in (64, 32):
        assert fnv1a(strs, bits).tolist() == [_fnv_ref(s, bits) for s in strs]


@given(st.lists(st.tuples(st.text(max_size=20), st.text(max_size=20)), max_size=60),
       st.sampled_from([64, 32]))
@settings(max_examples=100, deadline=None)
def test_fnv1a_init_continues_the_hash(pairs, bits):
    from contessa_spark.hashing import fnv1a

    a = [x for x, _ in pairs]
    b = [y for _, y in pairs]
    got = fnv1a(b, bits, init=fnv1a(a, bits)).tolist()
    assert got == [_fnv_ref(x + y, bits) for x, y in pairs]


def _table_of(docs):
    """A word table built directly from per-doc word lists, so the
    gram kernel also sees words a whitespace split cannot produce."""
    enc = pa.array([w for ws in docs for w in ws], pa.string()).dictionary_encode()
    offsets = np.concatenate(([0], np.cumsum([len(ws) for ws in docs], dtype=np.int64)))
    return offsets, enc.indices.to_numpy(), enc.dictionary


def _table_words(table):
    """(every word in order, words per doc) of a ``word_table``."""
    offsets, codes, words = table
    return words.take(codes).to_pylist(), np.diff(offsets).tolist()


def _split_words(texts, lower=False):
    """(every word in order, words per doc) of ``str.split()``."""
    per_doc = [((t or "").lower() if lower else (t or "")).split() for t in texts]
    return [w for ws in per_doc for w in ws], [len(ws) for ws in per_doc]


def _assert_word_tables(texts, all_forms=True):
    """Raw and lowered word tables of ``texts`` equal ``t.split()`` and
    ``t.lower().split()`` for a list and for string, large_string,
    sliced and chunked input (the last three unless ``all_forms`` is
    false); ``words`` is distinct and never holds ``""``."""
    from contessa_spark.hashing import word_table

    arr = pa.array(texts, pa.string())
    forms = [list(texts), arr.cast(pa.large_string())]
    if all_forms:
        padded = pa.array(["x y"] + list(texts) + ["z"], pa.string())
        half = len(texts) // 2
        forms += [arr, padded.slice(1, len(texts)), pa.chunked_array([arr.slice(0, half), arr.slice(half)])]
    for lower in (False, True):
        want = _split_words(texts, lower)
        for form in forms:
            table = word_table(form, lower=lower)
            words = table[2].to_pylist()
            assert "" not in words and len(set(words)) == len(words)
            assert _table_words(table) == want


@given(st.lists(st.one_of(st.none(), text_st, st.sampled_from(["", " ", " a ", "İΣ ǅΣ\x1cΣ\x00b"])), max_size=20))
@settings(max_examples=150, deadline=None)
def test_word_table_matches_str_split(texts):
    _assert_word_tables(texts)


def test_word_table_splits_every_code_point_like_str_split():
    """Every non-surrogate code point c: ``"a"+chr(c)+"b"`` and
    ``c+"a"+c+"b"+c`` split as ``str.split()`` does, lowering never creates or removes whitespace,
    and the lowered table of ``"AΣ"+chr(c)+"Σb"`` (final-sigma context
    on both sides of c) equals ``t.lower().split()``. Each is one
    vectorized array of 1,112,064 texts."""
    from contessa_spark.hashing import word_table

    chars = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    assert len(chars) == 1_112_064
    assert [ch for ch in chars if any(x.isspace() for x in ch.lower()) != ch.isspace()] == []
    assert [ch for ch in chars if ch.isspace() and ch.lower() != ch] == []
    for texts in (["a" + ch + "b" for ch in chars], [ch + "a" + ch + "b" + ch for ch in chars]):
        assert _table_words(word_table(texts)) == _split_words(texts)
    texts = ["AΣ" + ch + "Σb" for ch in chars]
    assert _table_words(word_table(texts, lower=True)) == _split_words(texts, lower=True)


def test_word_table_when_invalid_bytes_follow_the_last_text():
    """Arrow's split decodes one code point past a text that ends in
    whitespace. After the last text of an array that is whatever
    follows its data in memory (in an IPC body, the next buffer), and
    where those bytes are not UTF-8 pyarrow 16.1 returned the trailing
    whitespace as part of a word. Here the data buffer ends in 0xff
    bytes past the last offset."""
    from contessa_spark.hashing import word_table

    for last in ["\ta£\r", "a ", "b  ", " ", "c\x85", "d\u3000", "e\x1f"]:
        texts = ["x y", last]
        data = "".join(texts).encode()
        offsets = np.array([0, 3, len(data)], dtype=np.int32)
        arr = pa.Array.from_buffers(pa.string(), 2, [None, pa.py_buffer(offsets), pa.py_buffer(data + b"\xff" * 8)])
        for lower in (False, True):
            assert _table_words(word_table(arr, lower=lower)) == _split_words(texts, lower), repr(last)


def test_word_table_on_high_vocab_corpus(high_vocab):
    """Raw and lowered tables equal ``str.split()`` on the seeded
    Heaps'-law corpus (>10⁵ distinct words either way)."""
    from contessa_spark.hashing import word_table

    assert len(word_table(high_vocab)[2]) > 100_000
    assert len(word_table(high_vocab, lower=True)[2]) > 100_000
    _assert_word_tables(high_vocab, all_forms=False)


def test_annotate_rows_match_single_signal_forms_on_high_vocab_corpus(high_vocab):
    """The fused batch core equals the ``py_*`` oracles on every text
    of the high-vocabulary corpus, in one batch."""
    cols = annotate_rows(high_vocab)
    for i, t in enumerate(high_vocab):
        t = t or ""
        assert cols["n_chars"][i] == len(t)
        assert cols["symbol_ratio"][i] == textstats.py_symbol_ratio(t)
        assert cols["repetition"][i] == textstats.py_repetition(t)
        assert cols["stopword_frac"][i] == textstats.py_stopword_frac(t)
        assert cols["mean_word_len"][i] == textstats.py_mean_word_len(t)
        assert cols["ppl"][i] == perplexity.perplexity(t)
        assert (cols["lang_pred"][i], cols["lang_conf"][i]) == langid.detect(t)
        scrubbed = cols["scrubbed_text"][i]
        assert (scrubbed if scrubbed is not None else t) == scrub.scrub_text(t)


@given(st.lists(st.lists(st.text(max_size=6), max_size=9), max_size=25),
       st.integers(min_value=1, max_value=5))
@settings(max_examples=150, deadline=None)
def test_gram_hashes_match_joined_grams(docs, k):
    """One hash per word-k-gram position, equal to FNV-64 of the joined
    gram string; docs with fewer than k words contribute none."""
    from contessa_spark.hashing import gram_hashes

    flat, counts = gram_hashes(_table_of(docs), k)
    assert counts.tolist() == [max(0, len(w) - k + 1) for w in docs]
    assert flat.tolist() == [
        _fnv_ref(" ".join(w[i : i + k])) for w in docs for i in range(len(w) - k + 1)
    ]


@given(st.lists(st.one_of(st.none(), text_st), max_size=20))
@example(["a b", None, "", " \t ", "A a B", "", "c"])  # empty docs between and after words
@settings(max_examples=100, deadline=None)
def test_simhash_batch_matches_per_word_votes(texts):
    """The batch SimHash core equals a per-word scalar vote: bit i is
    set when more than half of the lowered words have FNV-64 bit i."""
    from contessa_spark.operators.dedup import _simhash_batch

    want = []
    for t in texts:
        words = (t or "").lower().split()
        sig = 0
        for i in range(64):
            ones = sum((_fnv_ref(w) >> i) & 1 for w in words)
            if 2 * ones > len(words):
                sig |= 1 << i
        want.append(sig - (1 << 64) if sig >= 1 << 63 else sig)
    assert _simhash_batch(texts).tolist() == want
