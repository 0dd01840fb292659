"""Fused Python-side QA scoring: one Arrow round-trip for the whole stage set.

langid + perplexity + scrub each need Python (model lookups, compiled-re
byte-identity); the Gopher/C4 rule statistics are also computed here on the
same tokenisation — measured on this sandbox the JVM expression forms
(split / array_distinct / array_contains chains) cost ~200µs/doc while this
kernel computes identical values for ~40µs/doc. The column-expression forms
(functions/textstats.py) remain the reference surface: STAGES (unfused) uses
them and tests assert bit-equality between the two paths; the pipeline runs
only this kernel.

Kernel shape (per Arrow batch of ~10k docs):
- ONE tokenize: join the batch into a single byte buffer, lower once, split
  once (C-speed; pandas explode() would build a 1.2M-entry object index per
  batch). Doc boundaries recovered by segment-sums over byte masks
  (np.add.reduceat — writes n values, never full prefix arrays).
- ONE vocabulary pass: pd.factorize dedups the batch's tokens, the model
  dict is probed only per UNIQUE token, then per-token values come from
  numpy gathers. Dyadic logprobs ⇒ np.bincount sums are exact, so outputs
  are bit-identical to the unfused kernels.
- Rule statistics from the same byte masks / token codes, matching
  textstats.py expression semantics exactly (integer counts + one IEEE
  double division each).
- Scrub in delta form: byte-scan candidate prefilter + changed-only output
  (functions/scrub.py) — Arrow ships back only the few changed docs.

The reference analogue is the shared-scan discipline: one open file feeds
all extractions (/root/reference/isimip_qa/main.py:130-136).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .textstats import (
    BULLET_LINE_RE,
    CTRL_CLASS,
    ELLIPSIS_SUFFIXES,
    MOJIBAKE_SEQS,
    REPL_CHAR,
    WORDLIKE_RE,
)
from .scrub import TOXIC_TERMS, _scrub_delta_series

_TOXIC_BYTES = [t.encode("utf-8") for t in TOXIC_TERMS]

# Every column the kernel emits, in output order, with its Spark type: the
# Python-only scores, then the rule statistics the keep gate reads.
PYTHON_SCORE_COLS: tuple[tuple[str, str], ...] = (
    ("lang_pred", "string"),
    ("avg_logprob", "double"),
    ("ppl", "double"),
    ("scrub_delta", "string"),
)
RULE_STAT_COLS: tuple[tuple[str, str], ...] = (
    ("n_words", "long"),
    ("mean_word_len", "double"),
    ("symbol_ratio", "double"),
    ("distinct_word_ratio", "double"),
    ("stopword_ratio", "double"),
    ("ellipsis_count", "long"),
    ("dup_line_frac", "double"),
    ("dup_para_frac", "double"),
    ("dup_2gram_frac", "double"),
    ("repl_n", "long"),
    ("mojibake_n", "long"),
    ("ctrl_frac", "double"),
    ("bullet_line_frac", "double"),
    ("ellipsis_line_frac", "double"),
    ("alpha_word_frac", "double"),
)
SCORE_COLS = PYTHON_SCORE_COLS + RULE_STAT_COLS
FUSED_SCHEMA = ", ".join(f"{c} {t}" for c, t in SCORE_COLS)
# pandas dtype per Spark type (nullable Int64: a NULL text scores NA)
_PD_DTYPES = {"string": object, "double": np.float64, "long": "Int64"}


# combined model: token → id; LP[id] = unigram logprob, LID[id] = language id
# (-1: not a stop-word of any language). Built once per Python worker process
# (module global = the broadcast-variable analogue in local mode).
_TOK2ID: dict[str, int] | None = None
_LP: np.ndarray | None = None
_LID: np.ndarray | None = None


def _combined() -> tuple[dict[str, int], np.ndarray, np.ndarray]:
    global _TOK2ID, _LP, _LID
    if _TOK2ID is None:
        from .langid import _lookup
        from .perplexity import MODEL, OOV_LOGPROB

        lang_of = _lookup()
        vocab = sorted(set(MODEL) | set(lang_of))
        _TOK2ID = {w: i for i, w in enumerate(vocab)}
        _LP = np.array([MODEL.get(w, OOV_LOGPROB) for w in vocab], dtype=np.float64)
        _LID = np.array([lang_of.get(w, -1) for w in vocab], dtype=np.int64)
    return _TOK2ID, _LP, _LID


def _seg_count(mask: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Per-doc sum of a byte mask over segment [starts[i], starts[i+1])."""
    return np.add.reduceat(mask, starts, dtype=np.int64)


def _fused_series(texts: pd.Series) -> pd.DataFrame:
    from .langid import LANG_ORDER
    from .perplexity import OOV_LOGPROB

    texts = texts.reset_index(drop=True)
    n = len(texts)
    if n == 0:
        return pd.DataFrame(
            {c: pd.Series([], dtype=_PD_DTYPES[t]) for c, t in SCORE_COLS}
        )

    tok2id, lp_arr, lid_arr = _combined()
    na_mask = texts.isna().to_numpy()
    filled = texts.fillna("")

    # ONE byte scan of the whole batch: per-doc token counts (space bytes),
    # scrub-candidate flags (digit/@), symbol counts, ellipsis runs — all
    # from the same encoded buffer. Bytes 32-126 never occur inside
    # multi-byte UTF-8 sequences, so byte counts equal char counts for these
    # classes. '' doc → one '' token, matching ''.split(' ').
    enc = [t.encode("utf-8") for t in filled.tolist()]
    blens = np.fromiter(map(len, enc), dtype=np.int64, count=n)
    big = b" ".join(enc)
    # pad one byte so reduceat start == len(big) (empty last doc) is valid
    barr = np.frombuffer(big + b"\0", dtype=np.uint8)
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(blens + 1, out=bounds[1:])
    starts = bounds[:-1]
    # doc i's segment [starts[i], starts[i+1]) includes its trailing
    # separator space, so the space-sum IS the token count; the last doc has
    # no separator → +1
    counts = _seg_count(barr == 32, starts)
    counts[-1] += 1
    toks = big.decode("utf-8").split(" ")  # raw case; lowered per-unique below
    idx = np.repeat(np.arange(n, dtype=np.int64), counts)

    # scrub candidates: any digit/'@' byte, plus docs containing a toxic
    # term (term occurrences located in the shared buffer — terms hold no
    # space, so they cannot span the doc separator)
    cand = _seg_count(((barr >= 48) & (barr <= 57)) | (barr == 64), starts) > 0
    for term in _TOXIC_BYTES:
        pos = big.find(term)
        while pos != -1:
            cand[np.searchsorted(bounds, pos, side="right") - 1] = True
            pos = big.find(term, pos + 1)

    # ONE vocabulary pass: factorize dedups the raw token stream; lowering
    # and dict probes touch only UNIQUE tokens, per-token values are numpy
    # gathers over the code array (langid/perplexity lower before lookup,
    # so looking up lower(unique) is identical to factorizing lowered text)
    codes, uniques = pd.factorize(pd.Series(toks, dtype=object))
    uids = pd.Series([u.lower() for u in uniques], dtype=object).map(tok2id)
    uk = uids.notna().to_numpy()
    uid = np.zeros(len(uniques), dtype=np.int64)
    uid[uk] = uids.to_numpy()[uk].astype(np.int64)
    u_lp = np.full(len(uniques), OOV_LOGPROB, dtype=np.float64)
    u_lp[uk] = lp_arr[uid[uk]]
    u_lid = np.full(len(uniques), -1, dtype=np.int64)
    u_lid[uk] = lid_arr[uid[uk]]

    # perplexity: exact dyadic mean per doc
    sums = np.bincount(idx, weights=u_lp[codes], minlength=n)
    avg = sums / counts
    avg[na_mask] = np.nan

    # langid: stop-word occurrence argmax (first max wins = LANG_ORDER)
    lids = u_lid[codes]
    sw = lids >= 0
    counts2d = np.zeros((n, len(LANG_ORDER)), dtype=np.int64)
    if sw.any():
        np.add.at(counts2d, (idx[sw], lids[sw]), 1)
    preds = np.array(LANG_ORDER, dtype=object)[counts2d.argmax(axis=1)]
    pred_s = pd.Series(preds, dtype="object")
    pred_s[na_mask] = None

    # --- rule statistics (textstats.py expression semantics, bit-exact) ---
    # n_words = size(split(text,' ')) = counts
    # mean_word_len = (chars − spaces)/n_words; chars via str len (O(1))
    chars = filled.str.len().to_numpy(dtype=np.int64)
    fcounts = counts.astype(np.float64)
    mean_wl = (chars - (counts - 1)) / fcounts
    # symbol_ratio: ASCII punct class [!-/:-@[-`{-~] occurrences / n_words
    sym = (
        ((barr >= 33) & (barr <= 47))
        | ((barr >= 58) & (barr <= 64))
        | ((barr >= 91) & (barr <= 96))
        | ((barr >= 123) & (barr <= 126))
    )
    symbol_ratio = _seg_count(sym, starts) / fcounts
    # distinct_word_ratio: |distinct raw-case tokens| / |tokens| (textstats
    # splits unlowered text — the raw factorize codes carry exactly that)
    pair = idx * np.int64(len(uniques)) + codes
    distinct = np.bincount(
        (np.unique(pair) // np.int64(len(uniques))).astype(np.int64), minlength=n
    )
    distinct_ratio = distinct / fcounts
    # stopword_ratio: lowered-token occurrences in the stop-word union
    sw_hits = np.bincount(idx[sw], minlength=n)
    stopword_ratio = sw_hits / fcounts
    # ellipsis_count: non-overlapping '...' matches = sum(run_len // 3) over
    # maximal '.' runs (runs cannot span docs — separator is a space)
    dot = barr == 46
    prev = np.empty_like(dot)
    prev[0] = False
    prev[1:] = dot[:-1]
    run_start = np.nonzero(dot & ~prev)[0]
    if len(run_start):
        nxt = np.empty_like(dot)
        nxt[-1] = False
        nxt[:-1] = dot[1:]
        run_end = np.nonzero(dot & ~nxt)[0]
        run_matches = (run_end - run_start + 1) // 3
        run_doc = np.searchsorted(bounds, run_start, side="right") - 1
        ellipsis = np.bincount(run_doc, weights=run_matches, minlength=n).astype(
            np.int64
        )
    else:
        ellipsis = np.zeros(n, dtype=np.int64)

    # --- repetition rules (Gopher §A1.1), textstats.py semantics ---
    # dup_2gram_frac from the raw-case token codes: gram (c_i, c_{i+1}) for
    # adjacent same-doc positions; per-doc distinct via one composite-key
    # np.unique (the distinct_word_ratio trick, pairwise). Single-token docs
    # have one degenerate gram → fraction 0, matching the expression form.
    V = np.int64(len(uniques))
    if len(idx) > 1:
        adj = idx[:-1] == idx[1:]
    else:
        adj = np.zeros(0, dtype=bool)
    if adj.any():
        gdoc = idx[:-1][adj]
        gkey = codes[:-1][adj].astype(np.int64) * V + codes[1:][adj]
        comp = gdoc * (V * V) + gkey
        distinct2 = np.bincount(
            (np.unique(comp) // (V * V)).astype(np.int64), minlength=n
        )
    else:
        distinct2 = np.zeros(n, dtype=np.int64)
    total2 = np.maximum(counts - 1, 1).astype(np.float64)
    dup_2gram = np.where(counts >= 2, (total2 - distinct2) / total2, 0.0)

    # dup_line_frac / dup_para_frac: only docs actually containing the
    # separator do any work (fast path: single-part docs are exactly 0, the
    # common case for space-normalised crawl text); multi-part docs get one
    # vectorized split + factorize + composite-distinct pass.
    def _dup_part_frac(
        sep: str, sep_counts: np.ndarray | None = None
    ) -> np.ndarray:
        has = (
            (sep_counts > 0)
            if sep_counts is not None
            else filled.str.contains(sep, regex=False).to_numpy()
        )
        if not has.any():
            return np.zeros(n, dtype=np.float64)
        # regex count of the literal separator (newlines need no escaping);
        # non-overlapping matches + 1 == Java split(-1) part count
        total = (
            sep_counts
            if sep_counts is not None
            else filled.str.count(sep).to_numpy(dtype=np.int64)
        ) + 1
        parts = filled[has].str.split(sep, regex=False).explode()
        pidx = parts.index.to_numpy(dtype=np.int64)
        pcodes, puniq = pd.factorize(parts)
        pv = np.int64(len(puniq))
        dcounts = np.bincount(
            (np.unique(pidx * pv + pcodes) // pv).astype(np.int64), minlength=n
        )
        distinct = np.where(has, dcounts, 1)
        return (total - distinct) / total.astype(np.float64)

    nl_counts = filled.str.count("\n").to_numpy(dtype=np.int64)
    dup_line = _dup_part_frac("\n", nl_counts)
    dup_para = _dup_part_frac("\n\n")

    # --- encoding-quality signals (textstats.py semantics: exact literal
    # counts + ctrl fraction over greatest(len, 1); pandas str.count over
    # the escaped literal == the expression side's non-overlapping
    # length-arithmetic count, and the int64/int64 -> float64 division is
    # the same IEEE op both sides; `chars` above is already str.len) ---
    repl_n = filled.str.count(re.escape(REPL_CHAR)).to_numpy(dtype=np.int64)
    moji_n = sum(
        filled.str.count(re.escape(seq)).to_numpy(dtype=np.int64)
        for seq, _ in MOJIBAKE_SEQS
    )
    ctrl_n = filled.str.count(CTRL_CLASS).to_numpy(dtype=np.int64)
    ctrl_frac = ctrl_n.astype(np.float64) / np.maximum(chars, 1).astype(
        np.float64
    )

    # --- Gopher format rules (textstats.py expression semantics) ---
    # Line rules: per-doc line count is '\n' count + 1 (Java split(-1)
    # parity, as in _dup_part_frac), and the same fast path applies —
    # single-line docs (the common case for space-normalised crawl text)
    # get direct vectorized tests, only multi-line docs pay the explode.
    # The bullet test is re.match == the expression side's ^-anchored
    # rlike; the ellipsis test is str.endswith == Column.endswith.
    lines_total = (nl_counts + 1).astype(np.float64)
    has_nl = nl_counts > 0

    def _line_ends(s: pd.Series) -> pd.Series:
        out = s.str.endswith(ELLIPSIS_SUFFIXES[0])
        for _suf in ELLIPSIS_SUFFIXES[1:]:
            out = out | s.str.endswith(_suf)
        return out

    bullet_hits = np.zeros(n, dtype=np.int64)
    ell_hits = np.zeros(n, dtype=np.int64)
    single = ~has_nl
    if single.any():
        sdocs = filled[single]
        bullet_hits[single] = sdocs.str.match(BULLET_LINE_RE).to_numpy(
            dtype=np.int64
        )
        ell_hits[single] = _line_ends(sdocs).to_numpy(dtype=np.int64)
    if has_nl.any():
        lparts = filled[has_nl].str.split("\n", regex=False).explode()
        lidx = lparts.index.to_numpy(dtype=np.int64)
        bull = lparts.str.match(BULLET_LINE_RE).to_numpy(dtype=bool)
        bullet_hits += np.bincount(lidx[bull], minlength=n)
        ends = _line_ends(lparts).to_numpy(dtype=bool)
        ell_hits += np.bincount(lidx[ends], minlength=n)
    bullet_frac = bullet_hits / lines_total
    ell_line_frac = ell_hits / lines_total
    # Alphabetic-word fraction: the wordlike regex probes only UNIQUE
    # tokens (str.contains == rlike, both unanchored search), then a
    # gather over the code array + bincount gives per-doc hits.
    u_word = (
        pd.Series(uniques, dtype=object)
        .str.contains(WORDLIKE_RE, regex=True)
        .to_numpy(dtype=bool)
    )
    alpha_frac = np.bincount(idx[u_word[codes]], minlength=n) / fcounts

    def _typed(a, t: str):
        if t == "string":
            return a
        a = pd.Series(a, dtype=_PD_DTYPES[t])
        a[na_mask] = pd.NA if t == "long" else np.nan
        return a

    scores = {
        "lang_pred": pred_s,
        "avg_logprob": avg,
        "ppl": np.exp(-avg),
        "scrub_delta": _scrub_delta_series(texts, candidates=cand),
        "n_words": counts,
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "distinct_word_ratio": distinct_ratio,
        "stopword_ratio": stopword_ratio,
        "ellipsis_count": ellipsis,
        "dup_line_frac": dup_line,
        "dup_para_frac": dup_para,
        "dup_2gram_frac": dup_2gram,
        "repl_n": repl_n,
        "mojibake_n": moji_n,
        "ctrl_frac": ctrl_frac,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ell_line_frac,
        "alpha_word_frac": alpha_frac,
    }
    return pd.DataFrame({c: _typed(scores[c], t) for c, t in SCORE_COLS})


def qa_scores_udf(text: Column) -> Column:
    return F.pandas_udf(_fused_series, FUSED_SCHEMA)(text)
