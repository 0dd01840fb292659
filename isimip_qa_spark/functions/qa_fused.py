"""Fused Python-side QA scoring: one Arrow round-trip for the whole stage set.

langid + perplexity + scrub run here in Python (model lookups, and
Arrow's RE2 for the scrub chain); the Gopher/C4 rule statistics are also
computed here on the same tokenisation — measured, the JVM expression forms
(split / array_distinct / array_contains chains) cost ~200µs/doc while this
kernel computes identical values for ~16µs/doc (4096-doc batches, one core
of a 4-core VM). Every QA run, batch or stream, scores with this kernel
only; the column-expression forms (functions/textstats.py, langid.py,
scrub.py) remain the reference surface: the STAGES oracle (plans/stages.py)
uses them and tests assert bit-equality between the two paths.

Kernel shape (`_fused_arrow`, per Arrow string array of ~4k docs):
- The batch's UTF-8 bytes are read in place: the array's offsets are the
  doc bounds and its data buffer is scanned as one byte array. Nothing is
  decoded to Python strings except the unique tokens and the few scrub
  candidates.
- ONE tokenize: the shared token frame (`textstats.tokens_arrow`,
  `split_pattern(" ")` + `dictionary_encode`); per-doc token counts are
  the list lengths.
- ONE vocabulary pass: lowering, the model dict probe and the wordlike
  regex run in Python per UNIQUE token, then per-token values are numpy
  gathers over the frame's dictionary codes (the technique every Python
  text kernel shares: fingerprint.py, grams.py, queries/dsir.py). Dyadic logprobs ⇒ np.bincount sums
  are exact, so outputs are bit-identical to the unfused kernels.
- Rule statistics from byte classes of the buffer and the token codes,
  matching textstats.py expression semantics exactly (integer counts + one
  IEEE double division each). Docs sit back to back in the buffer with no
  separator, so every byte-level count is attributed by doc bounds and
  '.'-runs break at them. Literals (U+FFFD, mojibake, toxic terms) hold no
  space, so they are counted per unique token and cannot span two docs.
- Scrub in delta form: a digit/'@'/toxic-term candidate prefilter, then the
  RE2 chain (`scrub_arrow`, linear time) on the candidate docs only; the
  column is NULL where a doc is unchanged.

`_fused_series` is its pandas adapter (tests, benchmark replay); the sink
(plans/sink.py) calls `_fused_arrow` on the Arrow batches Spark hands it.

The reference analogue is the shared-scan discipline: one open file feeds
all extractions (/root/reference/isimip_qa/main.py:130-136).
"""

from __future__ import annotations

import functools
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .scrub import TOXIC_TERMS, scrub_arrow
from .textstats import (
    BULLET_LINE_RE,
    CTRL_CLASS,
    ELLIPSIS_SUFFIXES,
    MOJIBAKE_SEQS,
    REPL_CHAR,
    WORDLIKE_RE,
    tokens_arrow,
)

_MOJIBAKE = [seq for seq, _ in MOJIBAKE_SEQS]
_WORDLIKE = re.compile(WORDLIKE_RE)

# Every column the kernel emits, in output order, with its Spark type: the
# Python-only scores, then the rule statistics the keep gate reads.
SCORE_COLS: tuple[tuple[str, str], ...] = (
    ("lang_pred", "string"),
    ("avg_logprob", "double"),
    ("ppl", "double"),
    ("scrub_delta", "string"),
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
# Arrow type per Spark type name (the sink adds timestamp)
PA_TYPES = {
    "string": pa.string(),
    "double": pa.float64(),
    "long": pa.int64(),
    "int": pa.int32(),
    "boolean": pa.bool_(),
}
SCORE_SCHEMA = pa.schema([(c, PA_TYPES[t]) for c, t in SCORE_COLS])

# Byte classes, as bits of a 256-entry table. All are ASCII, and ASCII bytes
# never occur inside multi-byte UTF-8 sequences, so byte counts equal char
# counts: symbols are the ASCII punct class [!-/:-@[-`{-~], SCRUB the bytes
# every scrub pattern match holds (digits, '@'), CTRL is textstats.CTRL_CLASS.
_SYM, _SCRUB, _DOT, _CTRL = 1, 2, 4, 8
_CLASS = np.zeros(256, dtype=np.uint8)
for _lo, _hi in ((33, 47), (58, 64), (91, 96), (123, 126)):
    _CLASS[_lo : _hi + 1] |= _SYM
_CLASS[48:58] |= _SCRUB
_CLASS[64] |= _SCRUB
_CLASS[46] |= _DOT
_CLASS[[b for b in range(128) if re.fullmatch(CTRL_CLASS, chr(b))]] |= _CTRL


# combined model: token → id; LP[id] = unigram logprob, LANGS[id] = bit l set
# iff LANG_ORDER[l] lists the token as a stop-word (0: no language; 'la'
# and 'de' are listed by two). Built once per Python worker process (module
# global = the broadcast-variable analogue in local mode).
_TOK2ID: dict[str, int] | None = None
_LP: np.ndarray | None = None
_LANGS: np.ndarray | None = None


def _combined() -> tuple[dict[str, int], np.ndarray, np.ndarray]:
    global _TOK2ID, _LP, _LANGS
    if _TOK2ID is None:
        from .langid import LANG_ORDER, LANG_STOPWORDS
        from .perplexity import MODEL, OOV_LOGPROB

        langs_of: dict[str, int] = {}
        for li, lang in enumerate(LANG_ORDER):
            for w in LANG_STOPWORDS[lang]:
                langs_of[w] = langs_of.get(w, 0) | (1 << li)
        vocab = sorted(set(MODEL) | set(langs_of))
        _TOK2ID = {w: i for i, w in enumerate(vocab)}
        _LP = np.array([MODEL.get(w, OOV_LOGPROB) for w in vocab], dtype=np.float64)
        _LANGS = np.array([langs_of.get(w, 0) for w in vocab], dtype=np.int64)
    return _TOK2ID, _LP, _LANGS


def _distinct(doc: np.ndarray, code: np.ndarray, n: int, v: int) -> np.ndarray:
    """Per-doc number of distinct codes (each < v) over (doc, code) pairs."""
    key = np.unique(doc * np.int64(v) + code)
    return np.bincount(key // np.int64(v), minlength=n)


def _dup_frac(parts: pa.ListArray) -> np.ndarray:
    """(|parts| − |distinct parts|) / |parts| per doc (textstats._dup_frac):
    single-part docs are exactly 0, so only multi-part docs are encoded."""
    total = parts.value_lengths().to_numpy().astype(np.int64)
    multi = total > 1
    out = np.zeros(len(total), dtype=np.float64)
    if multi.any():
        sub = parts.filter(pa.array(multi))
        enc = pc.dictionary_encode(sub.flatten())
        doc = np.repeat(np.flatnonzero(multi), total[multi])
        distinct = _distinct(doc, enc.indices.to_numpy(), len(total), len(enc.dictionary))
        out[multi] = (total - distinct)[multi] / total[multi].astype(np.float64)
    return out


def _fused_arrow(text: pa.Array) -> pa.RecordBatch:
    """SCORE_COLS of each doc of a string array (NULL text scores NULL)."""
    from .langid import LANG_ORDER
    from .perplexity import OOV_LOGPROB

    n = len(text)
    if n == 0:
        return pa.RecordBatch.from_pylist([], schema=SCORE_SCHEMA)
    # ONE tokenize, the shared token frame; '' doc → one '' token
    valid, counts, idx, codes, dictionary = tokens_arrow(text)
    uniques = dictionary.to_pylist()
    if text.null_count:
        text = pc.fill_null(text, "")  # scored as '' and masked at the end

    # the batch's bytes and doc bounds, in place in the array's buffers
    offs = np.frombuffer(text.buffers()[1], dtype=np.int32)[text.offset : text.offset + n + 1]
    bounds = offs.astype(np.int64) - offs[0]
    barr = (
        np.frombuffer(text.buffers()[2], dtype=np.uint8, count=bounds[-1], offset=offs[0])
        if bounds[-1]
        else np.zeros(0, dtype=np.uint8)
    )
    # ONE pass over the bytes of any class (a few % of them), each
    # attributed to its doc; uint8 wrap-around makes `barr - 91 < 6` the
    # range test 91..96
    pos = np.flatnonzero(
        (barr < 65) & (barr != 32) | (barr - 91 < 6) | (barr - 123 < 4)
    )
    cls = _CLASS[barr[pos]]
    doc = np.searchsorted(bounds, pos, side="right") - 1

    def per_doc(bit: int) -> np.ndarray:
        return np.bincount(doc[(cls & bit) != 0], minlength=n)

    def token_sum(lits: list[str]) -> np.ndarray:
        """Per-doc non-overlapping count of the literals. None holds a space,
        so every match lies inside one token: counted per unique token."""
        u_n = sum(pc.count_substring(dictionary, s).to_numpy() for s in lits)
        if not u_n.any():
            return np.zeros(n, dtype=np.int64)
        return np.bincount(idx, weights=u_n[codes], minlength=n).astype(np.int64)

    # ONE vocabulary pass over the UNIQUE raw-case tokens (langid/perplexity
    # lower before lookup, so probing lower(unique) is identical)
    tok2id, lp_arr, langs_arr = _combined()
    uid = np.array([tok2id.get(u.lower(), -1) for u in uniques], dtype=np.int64)
    known = uid >= 0
    u_lp = np.where(known, lp_arr[uid], OOV_LOGPROB)
    u_langs = np.where(known, langs_arr[uid], 0)
    u_word = np.array([_WORDLIKE.search(u) is not None for u in uniques], dtype=bool)

    # perplexity: exact dyadic mean per doc
    avg = np.bincount(idx, weights=u_lp[codes], minlength=n) / counts

    # langid: per-language stop-word occurrence counts (a token listed by
    # several languages counts for each), argmax (first max wins = LANG_ORDER)
    bits = u_langs[codes]
    sw = bits != 0
    sw_doc, sw_bits = idx[sw], bits[sw]
    per_lang = np.stack(
        [
            np.bincount(sw_doc, weights=(sw_bits >> li) & 1, minlength=n)
            for li in range(len(LANG_ORDER))
        ],
        axis=1,
    )
    preds = np.array(LANG_ORDER, dtype=object)[per_lang.argmax(axis=1)]

    # --- rule statistics (textstats.py expression semantics, bit-exact) ---
    # mean_word_len = (chars − spaces)/n_words, spaces = n_words − 1
    chars = pc.utf8_length(text).to_numpy().astype(np.int64)
    fcounts = counts.astype(np.float64)
    mean_wl = (chars - (counts - 1)) / fcounts
    # distinct_word_ratio: distinct raw-case tokens (textstats splits
    # unlowered text — the raw dictionary codes carry exactly that)
    distinct_ratio = _distinct(idx, codes, n, len(uniques)) / fcounts
    stopword_ratio = np.bincount(idx[sw], minlength=n) / fcounts
    # ellipsis_count: non-overlapping '...' = sum(run_len // 3) over maximal
    # '.' runs; a run ends at its doc's last byte
    dots = (cls & _DOT) != 0
    dpos, ddoc = pos[dots], doc[dots]
    ellipsis = np.zeros(n, dtype=np.int64)
    if len(dpos):
        new = np.ones(len(dpos), dtype=bool)
        new[1:] = (dpos[1:] != dpos[:-1] + 1) | (ddoc[1:] != ddoc[:-1])
        run_len = np.bincount(np.cumsum(new) - 1)
        ellipsis = np.bincount(ddoc[new], weights=run_len // 3, minlength=n).astype(np.int64)

    # --- repetition rules (Gopher §A1.1), textstats.py semantics ---
    # dup_2gram_frac: gram (c_i, c_{i+1}) for adjacent same-doc positions;
    # single-token docs have one degenerate gram → fraction 0
    V = np.int64(len(uniques))
    adj = idx[:-1] == idx[1:]
    gkey = codes[:-1][adj].astype(np.int64) * V + codes[1:][adj]
    distinct2 = _distinct(idx[:-1][adj], gkey, n, int(V * V)) if adj.any() else 0
    total2 = np.maximum(counts - 1, 1).astype(np.float64)
    dup_2gram = np.where(counts >= 2, (total2 - distinct2) / total2, 0.0)
    # line and paragraph parts: Arrow splits on the literal separator
    # (non-overlapping, left to right = Java split(-1) part counts)
    lines = pc.split_pattern(text, "\n")
    dup_line = _dup_frac(lines)
    dup_para = _dup_frac(pc.split_pattern(text, "\n\n"))

    # --- encoding-quality signals: exact literal counts + ctrl fraction
    # over greatest(len, 1) ---
    repl_n = token_sum([REPL_CHAR])
    moji_n = token_sum(_MOJIBAKE)
    ctrl_frac = per_doc(_CTRL) / np.maximum(chars, 1).astype(np.float64)

    # --- Gopher format rules per line (RE2's ^-anchored search ==
    # re.match == the expression side's ^-anchored rlike; ends_with ==
    # str.endswith == Column.endswith) ---
    line_n = lines.value_lengths().to_numpy()
    lidx = np.repeat(np.arange(n, dtype=np.int64), line_n)
    flat = lines.flatten()
    bull = pc.match_substring_regex(flat, BULLET_LINE_RE)
    ends = functools.reduce(pc.or_, (pc.ends_with(flat, s) for s in ELLIPSIS_SUFFIXES))
    bullet_frac = np.bincount(
        lidx[bull.to_numpy(zero_copy_only=False)], minlength=n
    ) / line_n.astype(np.float64)
    ell_line_frac = np.bincount(
        lidx[ends.to_numpy(zero_copy_only=False)], minlength=n
    ) / line_n.astype(np.float64)
    alpha_frac = np.bincount(idx[u_word[codes]], minlength=n) / fcounts

    # scrub candidates: any digit/'@' byte, or a toxic term; the RE2 chain
    # runs on those docs only
    cand = ((per_doc(_SCRUB) > 0) | (token_sum(TOXIC_TERMS) > 0)) & valid
    ci = np.flatnonzero(cand)
    before = text.take(pa.array(ci))
    after = scrub_arrow(before)
    changed = pc.not_equal(after, before)
    delta = np.full(n, None, dtype=object)
    delta[ci[changed.to_numpy(zero_copy_only=False)]] = after.filter(changed).to_pylist()

    scores = {
        "lang_pred": preds,
        "avg_logprob": avg,
        "ppl": np.exp(-avg),
        "scrub_delta": delta,
        "n_words": counts,
        "mean_word_len": mean_wl,
        "symbol_ratio": per_doc(_SYM) / fcounts,
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
    null = None if valid.all() else ~valid
    return pa.RecordBatch.from_arrays(
        [pa.array(scores[f.name], f.type, mask=null) for f in SCORE_SCHEMA],
        schema=SCORE_SCHEMA,
    )


def _fused_series(texts: pd.Series) -> pd.DataFrame:
    """pandas adapter of `_fused_arrow`: longs come back as nullable Int64,
    NULL doubles as NaN."""
    stats = _fused_arrow(pa.array(texts, type=pa.string(), from_pandas=True))
    return stats.to_pandas(types_mapper={pa.int64(): pd.Int64Dtype()}.get)
