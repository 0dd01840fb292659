"""fastText-style language identification: the model and its column
expressions.

The QA pass scores language in the sink's fused kernel
(functions/qa_fused.py), which builds its token→language map from
LANG_STOPWORDS once per Python worker. The column expressions here compute
the *identical* scores (stop-word occurrence counts per language, argmax
with fixed tie-break order) JVM-side: they are the `langid` stage of the
expression oracle (plans/stages.py), the `langid` query, and with their
DuckDB twins the cross-engine check: integer scores, no float noise.

The model: per-language stop-word lists; a word on two lists ('la' and
'de': es and fr) counts for both languages. This is the hash-ngram linear
classifier degenerated to unigram indicator features — the same decision
function shape as fastText's linear layer, sized for the deterministic
synthetic corpora (real fastText weights are external data, which this
repository does not ship).
"""

from __future__ import annotations

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
    resolves ties identically. NULL scores (NULL text) predict NULL, as
    in the kernel: every comparison is NULL, so the chain falls through to
    its last language, which is predicted only for a non-NULL score."""
    last = LANG_ORDER[-1]
    pred = F.when(scores[last].isNotNull(), F.lit(last))
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
    last = LANG_ORDER[-1]
    pred = f"CASE WHEN {score_sql_of(last)} IS NOT NULL THEN '{last}' END"
    for lang in reversed(LANG_ORDER[:-1]):
        later = LANG_ORDER[LANG_ORDER.index(lang) + 1 :]
        cond = " AND ".join(
            f"{score_sql_of(lang)} >= {score_sql_of(o)}" for o in later
        )
        pred = f"CASE WHEN {cond} THEN '{lang}' ELSE {pred} END"
    return pred
