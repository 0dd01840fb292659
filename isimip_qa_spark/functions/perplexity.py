"""KenLM-style n-gram perplexity scoring (unigram backoff model).

The QA pass scores perplexity in the sink's fused kernel
(functions/qa_fused.py) from the same broadcast model dict; `ppl_udf`, an
Arrow-vectorized pandas UDF, is the `perplexity` stage of the expression
oracle (plans/stages.py) and the `perplexity` query (reference analogue:
broadcast-shaped auxiliary lookup,
/root/reference/isimip_qa/extractions/mean.py:30-33 gridarea weights).

Determinism contract for cross-engine verification: all log-probabilities are
dyadic rationals (multiples of 1/16), so the per-document *sum* is exact in
IEEE double regardless of accumulation order — Spark, pandas, and DuckDB
produce bit-identical `avg_logprob`. Only `ppl = exp(-avg)` can differ by a
libm ulp, absorbed by round-to-6.

A real deployment swaps `build_model()` for a KenLM table loaded from a
broadcast file; the scoring UDF is unchanged.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

OOV_LOGPROB = -8.0  # dyadic

# Frozen model vocabulary: the synthetic corpora vocabulary + all language
# stop-words + pages content words (gibberish/symbols stay OOV → high ppl).


def _vocab() -> list[str]:
    from .langid import LANG_STOPWORDS
    from .vocab import CONTENT_WORDS

    base = [
        "a", "agg", "and", "batch", "big", "column", "customer", "data",
        "fast", "filter", "group", "hash", "join", "key", "line", "merge",
        "order", "part", "query", "row", "scan", "slow", "small", "sort",
        "spark", "stream", "table", "the", "value", "vector", "window",
        "of", "to", "in", "is", "that", "with", "for", "this",
    ]
    words = set(base)
    for sw in LANG_STOPWORDS.values():
        words.update(sw)
    for cw in CONTENT_WORDS.values():
        words.update(cw)
    return sorted(words)


_VOCAB = _vocab()


def build_model() -> dict[str, float]:
    """Deterministic unigram logprobs: dyadic, rank-based (commoner ≈ higher).

    lp(w) = -(1 + (k mod 96)/16) for the w-th vocabulary word — every value a
    multiple of 1/16 in [-7, -1].
    """
    return {
        w: -(1.0 + (i * 7 % 96) / 16.0) for i, w in enumerate(sorted(_VOCAB))
    }


MODEL = build_model()


def model_values_sql() -> str:
    """The same model as a DuckDB VALUES relation (token, lp)."""
    rows = ", ".join(f"('{w}', {lp!r})" for w, lp in sorted(MODEL.items()))
    return f"(VALUES {rows}) AS lm(token, lp)"


def _score_series(texts: pd.Series) -> pd.DataFrame:
    """Vectorized: explode tokens, dict-map logprobs, groupby-sum per doc.
    Dyadic values ⇒ the sum is exact regardless of accumulation order."""
    import numpy as np

    texts = texts.reset_index(drop=True)
    toks = texts.str.lower().str.split(" ").explode()
    lps = toks.map(MODEL).fillna(OOV_LOGPROB).astype(np.float64)
    grp = lps.groupby(level=0)
    avg = grp.sum() / grp.size()
    avg = avg.reindex(range(len(texts)))
    avg[texts.isna()] = np.nan
    return pd.DataFrame(
        {"avg_logprob": avg.to_numpy(), "ppl": np.exp(-avg.to_numpy())}
    )


def ppl_udf(text: Column) -> Column:
    """Arrow-vectorized struct-returning pandas UDF (lazily created)."""
    return F.pandas_udf(_score_series, "avg_logprob double, ppl double")(text)
