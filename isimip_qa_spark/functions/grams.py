"""Vectorized word-n-gram hashing for decontamination.

The batch decontamination query (queries/decontaminate.py) joins raw
13-gram STRINGS so its DuckDB twin is collision-exact; its docstring
documents that the production shape swaps the join key for an 8-byte hash.
This module IS that production kernel, used by the streaming path
(streaming/decontaminate_stream.py) where a join is not an option: the
benchmark side is distilled to a sorted int64 hash array, broadcast once,
and membership is a vectorized searchsorted inside the Arrow batch — no
shuffle, no state, no per-row Python.

Gram hash = FNV-1a-64 fold over the gram's token hashes (each token's
FNV-1a-64 over codepoints, functions/fingerprint._token_fnv64, is one fold
symbol: h = (h ^ tok_hash) * prime mod 2^64). Tokens come from the shared
token frame (`textstats.tokens_arrow`), so each unique token is hashed
once and gathered through the frame's dictionary codes. Window semantics exactly
match fingerprint.shingles_expr / decontaminate.ngrams_sql: a doc with
n >= k tokens yields n-k+1 grams; a doc with n < k yields ONE gram folding
all n tokens (the clamped tail window). Hashes are stored and compared as
the int64 two's-complement view (Spark/Arrow have no uint64).

Two distinct documents collide only if a full 64-bit gram-hash collision
occurs (~n_grams^2 / 2^64); the batch string-join path remains the
collision-exact oracle of record.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .fingerprint import FNV_BASIS, FNV_PRIME, _token_fnv64
from .textstats import tokens_arrow

_PRIME = np.uint64(FNV_PRIME)


def gram_hash_pairs(texts: pd.Series, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc_idx, gram_hash) for every DISTINCT k-gram of every doc.

    doc_idx indexes positions in `texts` (0-based); gram_hash is int64
    (two's-complement view of the uint64 FNV fold). Distinctness is per
    doc — the same contract as shingles_expr's array_distinct, so hit
    counts computed from these pairs equal the batch query's n_hits.
    NULL text folds as ''.
    """
    _, n, _, codes, uniques = tokens_arrow(texts)  # n >= 1 tokens per doc
    m = len(n)
    th = _token_fnv64(uniques)[codes]
    starts = np.cumsum(n) - n  # global index of each doc's first token

    # window starts: per doc, w = max(n - k, 0) + 1 windows
    w = np.maximum(n - k, 0) + 1
    gram_doc = np.repeat(np.arange(m, dtype=np.int64), w)
    # offset of each window within its doc: global arange minus the
    # repeated per-doc cumulative window count
    wstarts = np.cumsum(w) - w
    offs = np.arange(len(gram_doc), dtype=np.int64) - np.repeat(wstarts, w)
    p = np.repeat(starts, w) + offs  # global token index of window start
    doc_end = np.repeat(starts + n, w)

    g = np.full(len(p), np.uint64(FNV_BASIS), dtype=np.uint64)
    for j in range(k):
        idx = p + j
        valid = idx < doc_end  # clamped tail window folds < k symbols
        safe = np.where(valid, idx, 0)
        g = np.where(valid, (g ^ th[safe]) * _PRIME, g)
    g = g.view(np.int64)

    # per-doc distinct: sort by (doc, hash), keep group firsts
    order = np.lexsort((g, gram_doc))
    gd, gh = gram_doc[order], g[order]
    keep = np.empty(len(gd), dtype=bool)
    keep[:1] = True
    keep[1:] = (gd[1:] != gd[:-1]) | (gh[1:] != gh[:-1])
    return gd[keep], gh[keep]


def hit_counts(
    texts: pd.Series, eval_hashes: np.ndarray, k: int
) -> np.ndarray:
    """Per-doc count of distinct k-grams present in `eval_hashes` (a SORTED
    int64 array). Vectorized: searchsorted membership over the distinct
    (doc, gram) pairs, then one bincount."""
    gd, gh = gram_hash_pairs(texts, k)
    m = len(texts)
    if len(eval_hashes) == 0 or len(gh) == 0:
        return np.zeros(m, dtype=np.int64)
    pos = np.searchsorted(eval_hashes, gh)
    pos_c = np.minimum(pos, len(eval_hashes) - 1)
    hit = eval_hashes[pos_c] == gh
    return np.bincount(gd[hit], minlength=m).astype(np.int64)
