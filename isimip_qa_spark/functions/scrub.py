"""Compiled-regex PII/toxicity scrubbing.

Two backends with the byte-identity rule from SURVEY.md §7: any pattern that
must match the pandas oracle byte-for-byte runs in the *same* engine — the
Arrow pandas UDF uses precompiled Python `re` (identical to the oracle by
construction); the column-expression backend (`regexp_replace` chains, Java
regex JVM-side) is restricted to patterns whose semantics agree across
Java/RE2/Python (plain character classes, no unicode classes, no
lookaround), verified by tests/test_qa_pipeline.py.

Patterns are applied in list order; order matters (emails before bare
domains would, e.g., double-scrub).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, replacement) — engine-portable subset: char classes + bounded reps.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    (r"\+?[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
    (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
]

# toxicity term list (placeholder lexicon; swap for a real one in deployment)
TOXIC_TERMS = ["badword1", "badword2", "slur1"]
TOXIC_PATTERN = "(?:" + "|".join(TOXIC_TERMS) + ")"

ALL_PATTERNS = PII_PATTERNS + [(TOXIC_PATTERN, "<TOXIC>")]

_COMPILED = [(re.compile(p), r) for p, r in ALL_PATTERNS]


def scrub_expr(text: Column) -> Column:
    """JVM-side chain of regexp_replace (fast path, engine-portable subset)."""
    out = text
    for pat, repl in ALL_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def scrub_text(s: str) -> str:
    """The chain on one string."""
    for rx, repl in _COMPILED:
        s = rx.sub(repl, s)
    return s


def _scrub_series(texts: pd.Series) -> pd.Series:
    return texts.map(scrub_text, na_action="ignore")


# Candidate prefilter: every ALL_PATTERNS match necessarily contains a digit,
# an '@' (email), or a toxic term — so a doc with none of those cannot be
# changed by the scrub chain. One cheap contains() pass gates the 4-pattern
# substitution chain to the (few) candidate docs; clean docs skip it entirely.
_PREFILTER = re.compile("[0-9@]|" + TOXIC_PATTERN)


def _scrub_delta_series(texts: pd.Series) -> pd.Series:
    """Scrubbed text where it differs from the input, else None.

    The delta form is the scale-path representation: Arrow ships (and the
    sink stores) only changed docs; `coalesce(scrub_delta, text)` JVM-side
    reconstructs the full scrubbed column byte-identically."""
    out = pd.Series([None] * len(texts), index=texts.index, dtype=object)
    cand = texts.str.contains(_PREFILTER, regex=True, na=False)
    if cand.any():
        sub = texts[cand]
        scrubbed = _scrub_series(sub)
        changed = scrubbed != sub
        out[scrubbed.index[changed]] = scrubbed[changed]
    return out


def scrub_udf(text: Column) -> Column:
    """Python-`re` backend: byte-identical to the pandas oracle (lazily
    created pandas UDF)."""
    return F.pandas_udf(_scrub_series, "string")(text)


def scrub_delta_udf(text: Column) -> Column:
    """Delta form of `scrub_udf`: NULL for unchanged docs (see
    `_scrub_delta_series`)."""

    def _delta(texts: pd.Series) -> pd.Series:
        return _scrub_delta_series(texts)

    return F.pandas_udf(_delta, "string")(text)


def scrub_oracle_sql(col: str) -> str:
    """The same chain as nested DuckDB regexp_replace (global flag)."""
    expr = col
    for pat, repl in ALL_PATTERNS:
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"
    return expr
