"""KenLM-style character n-gram perplexity, scored row by row
(`_ppl_one`) inside the one fused Arrow UDF (operators/fused.py).

The reference's model slot is lingua-go (X4, /root/reference/lang.go:
335-355); the north-star adds a perplexity quality signal alongside it.
This is a self-contained, deterministic stand-in with KenLM semantics:
an order-3 character LM with add-k smoothing and stupid-backoff to
unigrams, trained once per executor from the embedded seed corpus.
`ppl = exp(-mean(log P(c_i | c_{i-2} c_{i-1})))`.

Vectorized: the trained model is flattened into sorted int64 trigram
keys + logprob arrays so scoring is numpy searchsorted over the whole
text (no per-char Python loop — the original dict-lookup loop was the
pipeline's hottest Python path).

Production swap-in: replace `_train()` with loading real KenLM-exported
probs from a broadcast artifact; the UDF shape stays identical.
Text-only callers (the entry() flagship, tools/model_accuracy.py) pass
NULL audio to the same fused UDF and read its `ppl` field.

MEASURED separation contract (round 8, tools/model_accuracy.py over
the held-out corpus — table in BENCH/BASELINE.md, floors in
tests/test_model_accuracy.py): with the embedded seed corpus the LM
fully separates clean text from char-shuffled gibberish on latin and
other non-CJK scripts (concordance 1.00, median ratio 1.4-1.6) but is
BACKOFF-DOMINATED on CJK (concordance 0.63, ratio ~1.07 — an
out-of-vocabulary trigram scores the same shuffled or not). Do NOT
ppl-gate CJK corpora before the KenLM swap-in.
"""

from __future__ import annotations

import math

import numpy as np

from .langid import SEED_CORPUS

_ORDER = 3
_ADD_K = 0.1
_BACKOFF = math.log(0.4)
_KMUL = np.uint64(1 << 21)  # codepoint-key radix (> max codepoint)
_model_cache: dict[str, tuple] = {}


def _keys_of(c: np.ndarray) -> np.ndarray:
    """int64 trigram keys (c[i-2], c[i-1], c[i]) -> radix-packed."""
    with np.errstate(over="ignore"):
        return (c[:-2] * _KMUL * _KMUL + c[1:-1] * _KMUL + c[2:]).astype(np.int64)


def _codepoints(text: str) -> np.ndarray:
    padded = "\x02" * (_ORDER - 1) + text
    return np.frombuffer(padded.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)


def _train():
    """Flattened trigram model: sorted keys + logprobs, unigram table."""
    text = " ".join(SEED_CORPUS.values()).lower()
    c = _codepoints(text)
    keys = _keys_of(c)
    ctx = (c[:-2] * _KMUL + c[1:-1]).astype(np.int64)

    uniq_keys, key_counts = np.unique(keys, return_counts=True)
    uniq_ctx, ctx_inv = np.unique(ctx, return_inverse=True)
    ctx_totals = np.bincount(ctx_inv, minlength=uniq_ctx.size).astype(np.float64)

    # vocab for smoothing = distinct chars + 1
    uni_chars, uni_counts = np.unique(c, return_counts=True)
    vocab = uni_chars.size + 1
    uni_total = float(uni_counts.sum())
    uni_logp = np.log((uni_counts + _ADD_K) / (uni_total + _ADD_K * vocab))
    log_unk = math.log(_ADD_K / (uni_total + _ADD_K * vocab))

    # per-trigram logprob: log((n + k) / (ctx_total + k*vocab))
    key_ctx = (uniq_keys // np.int64(int(_KMUL))).astype(np.int64)
    pos = np.searchsorted(uniq_ctx, key_ctx)
    totals = ctx_totals[pos]
    tri_logp = np.log((key_counts + _ADD_K) / (totals + _ADD_K * vocab))

    return uniq_keys, tri_logp, uni_chars.astype(np.int64), uni_logp, log_unk


def _ppl_one(text: str) -> float | None:
    if not text:
        return None
    if "m" not in _model_cache:
        _model_cache["m"] = _train()
    tri_keys, tri_logp, uni_chars, uni_logp, log_unk = _model_cache["m"]
    c = _codepoints(text.lower()[:2048])
    if c.size <= _ORDER - 1:
        return None
    keys = _keys_of(c)
    chars = c[2:].astype(np.int64)

    pos = np.searchsorted(tri_keys, keys)
    pos_c = np.clip(pos, 0, tri_keys.size - 1)
    hit = tri_keys[pos_c] == keys
    logp = np.where(hit, tri_logp[pos_c], 0.0)

    # stupid-backoff to unigram for misses
    upos = np.searchsorted(uni_chars, chars)
    upos_c = np.clip(upos, 0, uni_chars.size - 1)
    uhit = uni_chars[upos_c] == chars
    backoff = np.where(uhit, uni_logp[upos_c], log_unk) + _BACKOFF
    logp = np.where(hit, logp, backoff)

    return float(np.exp(-logp.mean()))

