"""Hash-ngram word-bigram perplexity scorer (KenLM-in-spirit).

A CCNet-style quality signal (Wenzek et al. 2020, "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data" uses KenLM
perplexity to rank web text): train a tiny interpolated word
uni/bigram LM on the clean multilingual seed corpora, hashed into
fixed buckets; score = exp(-mean log p) over a document's word
bigrams. Clean in-domain prose scores low; gibberish, boilerplate and
symbol soup score high.

Pure core (numpy, deterministic, model built at import); words hash
with 32-bit FNV-1a (``hashing.fnv1a``). The fused annotate UDF scores
whole batches through ``perplexity_flat``; ``perplexity`` is the
per-doc reference form shared verbatim with the test oracle.
"""

from __future__ import annotations

from typing import List

import numpy as np

from contessa_spark.functions.langid import SEED_CORPORA
from contessa_spark.hashing import fnv1a

N_UNI = 1 << 15
N_BI = 1 << 17
_MASK_UNI = N_UNI - 1
_MASK_BI = N_BI - 1

# interpolation weight bigram vs unigram
_LAMBDA = 0.7


def _tokens(text: str) -> List[str]:
    return text.lower().split()


def _build_counts():
    uni = np.zeros(N_UNI, dtype=np.float64)
    bi = np.zeros(N_BI, dtype=np.float64)
    for corpus in SEED_CORPORA.values():
        hs = fnv1a(_tokens(corpus), 32).view(np.int64)
        np.add.at(uni, hs & _MASK_UNI, 1)
        np.add.at(bi, (hs[:-1] * 1000003 + hs[1:]) & _MASK_BI, 1)
    return uni, bi


_UNI, _BI = _build_counts()
_UNI_TOTAL = _UNI.sum()
_LOG_P_UNI = np.log((_UNI + 0.1) / (_UNI_TOTAL + 0.1 * N_UNI))


def perplexity(text: str) -> float:
    """exp(-mean log p(w_i | w_{i-1})) with bigram→unigram interpolation.

    Empty/one-word documents get the unigram-only score; empty text →
    a fixed high sentinel (1e6).
    """
    return perplexity_tokens(_tokens(text))


def perplexity_tokens(toks: List[str]) -> float:
    """Core over pre-lowered tokens (shared with the fused UDF, which
    tokenizes each document once for all word stats)."""
    if not toks:
        return 1.0e6
    hs = fnv1a(toks, 32).view(np.int64)
    uni_lp = _LOG_P_UNI[hs & _MASK_UNI]
    if len(toks) == 1:
        return float(np.exp(-uni_lp.mean()))
    bi_idx = (hs[:-1] * 1000003 + hs[1:]) & _MASK_BI
    bi_c = _BI[bi_idx]
    uni_c = _UNI[hs[:-1] & _MASK_UNI]
    # p(w_i | w_{i-1}) ≈ λ·(bi/(uni_prev+1)) + (1-λ)·p_uni(w_i)
    p = _LAMBDA * (bi_c / (uni_c + 1.0)) + (1.0 - _LAMBDA) * np.exp(uni_lp[1:])
    lp = np.log(np.maximum(p, 1e-12))
    return float(np.exp(-lp.mean()))


def perplexity_flat(hs_flat, offsets, lens):
    """Batch core over pre-hashed tokens: per-doc perplexities from ONE
    flat hash array (docs concatenated; ``offsets[i]``/``lens[i]``
    delimit doc i). Bit-identical to calling ``perplexity_tokens`` per
    doc: every elementwise op runs on the same values, cross-doc bigram
    positions are excluded by the slice bounds (doc i's bigram
    log-probs are ``lp[o : o+n-1]``), and each doc's ``.mean()`` runs
    over the same contiguous float64 slice (numpy pairwise summation is
    a function of the slice alone). Eliminates the per-word Python of
    the one-doc-at-a-time form — the fused annotate UDF's old hotspot."""
    n_docs = len(lens)
    out = np.empty(n_docs, dtype=np.float64)
    uni_lp = _LOG_P_UNI[hs_flat & _MASK_UNI]
    if len(hs_flat) >= 2:
        bi_idx = (hs_flat[:-1] * 1000003 + hs_flat[1:]) & _MASK_BI
        p = _LAMBDA * (_BI[bi_idx] / (_UNI[hs_flat[:-1] & _MASK_UNI] + 1.0)) + (
            1.0 - _LAMBDA
        ) * np.exp(uni_lp[1:])
        lp = np.log(np.maximum(p, 1e-12))
    for i in range(n_docs):
        o = offsets[i]
        n = lens[i]
        if n == 0:
            out[i] = 1.0e6
        elif n == 1:
            # mean of the 1-element slice == the element
            out[i] = np.exp(-uni_lp[o])
        else:
            out[i] = np.exp(-lp[o : o + n - 1].mean())
    return out
