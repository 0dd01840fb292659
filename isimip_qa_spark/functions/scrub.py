"""Compiled-regex PII/toxicity scrubbing.

One pattern list, four engines. The QA pass scrubs in the sink's fused
kernel with Arrow's RE2 (`scrub_arrow`, linear in the text length);
`scrub_expr` is the JVM-side `regexp_replace` chain (the `scrub` stage of
the expression oracle and the `scrub_pii` query), `scrub_oracle_sql` its
DuckDB RE2 twin, and `scrub_text` the Python `re` chain of the test
oracles. The patterns are therefore restricted to a subset whose semantics
agree across Java/RE2/Python (plain character classes, no unicode classes,
no lookaround), verified by
tests/test_twin_property.py::test_scrub_three_backend_parity.

Patterns are applied in list order; order matters (emails before bare
domains would, e.g., double-scrub).
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc
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

# Every ALL_PATTERNS match holds an ASCII digit, an '@' or a toxic term
# (tests/test_scrub_prefilter.py), so a doc holding none is unchanged by the
# chain. Backtracking engines (Java, Python `re`) take time quadratic in a
# long run of e.g. email-class characters with no match, so the JVM `scrub`
# stage (this regex) runs the chain on candidate docs only. The kernel (a
# byte scan) gates the same way to save RE2's per-doc cost.
CANDIDATE_PATTERN = "[0-9@]|" + TOXIC_PATTERN

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


def scrub_arrow(texts: pa.Array) -> pa.Array:
    """The chain over a string array, in RE2 (linear time)."""
    for pat, repl in ALL_PATTERNS:
        texts = pc.replace_substring_regex(texts, pattern=pat, replacement=repl)
    return texts


def scrub_oracle_sql(col: str) -> str:
    """The same chain as nested DuckDB regexp_replace (global flag)."""
    expr = col
    for pat, repl in ALL_PATTERNS:
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"
    return expr
