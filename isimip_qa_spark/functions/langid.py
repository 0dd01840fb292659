"""fastText-style language identification, two interchangeable backends.

The production path is an Arrow-vectorized pandas UDF with the model held in
a broadcast-once module global (SCALAR_ITER semantics: the per-executor
Python worker builds token→lang lookups once per batch stream) — the Spark
recast of the reference's process-wide cached auxiliary inputs
(/root/reference/isimip_qa/config.py:18-19, models.py:83-86).

A pure-column-expression backend computes the *identical* scores (stop-word
occurrence counts per language, argmax with fixed tie-break order), so the
DuckDB oracle and the UDF can be cross-checked exactly: integer scores, no
float noise.

The model: per-language stop-word lists with distinct vocabularies. This is
the hash-ngram linear classifier degenerated to unigram indicator features —
the same decision function shape as fastText's linear layer, sized for the
deterministic synthetic corpora (real fastText weights are external data,
which this sandbox excludes).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Frozen per-language stop-word vocabularies (part of the oracle contract).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "this"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "des", "est", "dans"],
    "de": ["der", "die", "und", "das", "von", "mit", "ist", "den", "ein", "nicht"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "不", "这", "个"],
}
LANG_ORDER = ["en", "es", "fr", "de", "zh"]  # argmax tie-break: first wins
# the QA pass's stop-word set (stopword_ratio): every language's list, so the
# fused kernel's langid lookup doubles as the membership test
STOPWORD_UNION: list[str] = sorted(set().union(*LANG_STOPWORDS.values()))


def _contains(words: list[str]):
    """Single-arg lambda factory (pyspark infers HOF arity from the Python
    signature — default-arg closures would be miscounted)."""
    sw = F.lit(words)
    return lambda x: F.array_contains(sw, x)


def lang_score_exprs_tokens(toks: Column) -> dict[str, Column]:
    """Integer stop-word occurrence count per language over an already
    lower-cased token array (column exprs)."""
    return {
        lang: F.size(F.filter(toks, _contains(sw))).cast("long")
        for lang, sw in LANG_STOPWORDS.items()
    }


def lang_score_exprs(text: Column) -> dict[str, Column]:
    """Integer stop-word occurrence count per language (column exprs)."""
    return lang_score_exprs_tokens(F.split(F.lower(text), " "))


def argmax_lang(scores: dict[str, Column]) -> Column:
    """THE argmax-with-LANG_ORDER-tie-break chain — single definition so
    every predictor (doc-level, windowed, SQL twins via argmax_lang_sql)
    resolves ties identically."""
    pred = F.lit(LANG_ORDER[-1])
    # build right-to-left so earlier languages win ties (>= comparison)
    for lang in reversed(LANG_ORDER[:-1]):
        later = [scores[o] for o in LANG_ORDER[LANG_ORDER.index(lang) + 1 :]]
        cond = None
        for o in later:
            c = scores[lang] >= o
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def lang_pred_tokens_expr(toks: Column) -> Column:
    """argmax prediction over an already lower-cased token array."""
    return argmax_lang(lang_score_exprs_tokens(toks))


def lang_pred_expr(text: Column) -> Column:
    """argmax over language scores; ties resolved by LANG_ORDER."""
    return argmax_lang(lang_score_exprs(text))


# --- DuckDB twin generators (one definition of score + argmax chain) --------


def _sw_sql(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def lang_score_sql(toks_sql: str, lang: str) -> str:
    """DuckDB twin of lang_score_exprs_tokens for one language."""
    return (
        f"len(list_filter({toks_sql}, x -> "
        f"list_contains({_sw_sql(LANG_STOPWORDS[lang])}, x)))::BIGINT"
    )


def argmax_lang_sql(score_sql_of) -> str:
    """DuckDB twin of argmax_lang. `score_sql_of(lang)` returns the SQL
    string for that language's score (a column alias or an inline expr)."""
    pred = f"'{LANG_ORDER[-1]}'"
    for lang in reversed(LANG_ORDER[:-1]):
        later = LANG_ORDER[LANG_ORDER.index(lang) + 1 :]
        cond = " AND ".join(
            f"{score_sql_of(lang)} >= {score_sql_of(o)}" for o in later
        )
        pred = f"CASE WHEN {cond} THEN '{lang}' ELSE {pred} END"
    return pred


# --- pandas UDF backend (production path) -----------------------------------

_TOKEN2LANG: dict[str, int] | None = None


def _lookup() -> dict[str, int]:
    global _TOKEN2LANG
    if _TOKEN2LANG is None:
        _TOKEN2LANG = {}
        for li, lang in enumerate(LANG_ORDER):
            for w in LANG_STOPWORDS[lang]:
                _TOKEN2LANG[w] = li
    return _TOKEN2LANG


def _predict_series(texts: pd.Series) -> pd.Series:
    """Vectorized: explode tokens once, map token→lang id, count per (doc,
    lang), argmax. No per-row Python."""
    import numpy as np

    texts = texts.reset_index(drop=True)
    toks = texts.str.lower().str.split(" ").explode()
    lang_ids = toks.map(_lookup()).dropna().astype(np.int64)
    n = len(texts)
    counts = np.zeros((n, len(LANG_ORDER)), dtype=np.int64)
    if len(lang_ids):
        np.add.at(counts, (lang_ids.index.to_numpy(), lang_ids.to_numpy()), 1)
    preds = np.array(LANG_ORDER, dtype=object)[counts.argmax(axis=1)]
    out = pd.Series(preds, dtype="object")
    out[texts.isna()] = None
    return out


def lang_pred_udf(text: Column) -> Column:
    """Arrow-vectorized pandas UDF (created lazily: module-level decoration
    would re-trigger DDL parsing on executor-side module import)."""
    return F.pandas_udf(_predict_series, "string")(text)
