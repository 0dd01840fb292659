"""Gopher/C4-style heuristic text statistics as pure column expressions.

Reference analogue: the extraction classes compute per-dataset assessment
statistics with whole-array numpy ops (/root/reference/isimip_qa/extractions/
mean.py:35, count.py:25); here the per-document statistics are Spark column
expressions, so they run inside whole-stage codegen with zero Python in the
hot path. Thresholds follow the published Gopher rules (Rae et al. 2021,
"Scaling Language Models: ... Gopher", §A1.1) and C4 (Raffel et al. 2020).

Tokenisation contract: split on single spaces (the synthetic corpora are
space-normalised). It has three forms, the single places to change it:
`tokens_expr` (Spark), its DuckDB twin `tokens_sql`, and `tokens_arrow`,
the token frame every Python text kernel reads (the QA kernel, the
minhash/simhash kernels, the gram hashes and DSIR).

The DuckDB twins the oracles run sit beside their Spark forms: `tokens_sql`
/ `TOKENS_SQL`, `rule_columns_sql` (same keys and order as `rule_columns`),
and `keep_sql` / `violations_sql`, which fold the same `RULE_CONJUNCTS`
table as `keep_from`. DuckDB still computes every statistic with its own
list and regex functions, so an oracle match is a cross-check.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_expr(text: Column) -> Column:
    return F.split(text, " ")


def tokens_sql(text: str) -> str:
    """DuckDB twin of tokens_expr over the SQL expression `text`."""
    return f"string_split({text}, ' ')"


TOKENS_SQL = tokens_sql("text")


class TokenFrame(NamedTuple):
    valid: np.ndarray  # bool per doc: text is not NULL
    counts: np.ndarray  # int64 tokens per doc, >= 1
    idx: np.ndarray  # int64 doc index of each token, docs in order
    codes: np.ndarray  # dictionary code of each token
    uniques: pa.StringArray  # the distinct tokens, indexed by code


def tokens_arrow(text) -> TokenFrame:
    """Arrow twin of tokens_expr over a string array (or a pandas Series of
    str/None): one `split_pattern(" ")` + `dictionary_encode`, so a kernel
    computes each per-token value once per unique token and gathers it
    through `codes`. NULL text is tokenised as '' (one '' token, as
    ''.split(' ')), so every doc has at least one token; `valid` says which
    docs were NULL."""
    if not isinstance(text, pa.Array):
        text = pa.array(text, type=pa.string(), from_pandas=True)
    valid = text.is_valid().to_numpy(zero_copy_only=False)
    if text.null_count:
        text = pc.fill_null(text, "")
    words = pc.split_pattern(text, " ")
    counts = words.value_lengths().to_numpy().astype(np.int64)
    enc = pc.dictionary_encode(words.flatten())
    idx = np.repeat(np.arange(len(text), dtype=np.int64), counts)
    return TokenFrame(valid, counts, idx, enc.indices.to_numpy(), enc.dictionary)


def _lines_sql(text: str) -> str:
    return f"string_split({text}, chr(10))"


def n_words_expr(text: Column) -> Column:
    return F.size(tokens_expr(text)).cast("long")


def distinct_word_ratio_expr(text: Column) -> Column:
    """Repetition proxy: |distinct tokens| / |tokens| (Gopher's dup-line /
    dup-paragraph fractions degenerate to this on single-line docs)."""
    toks = tokens_expr(text)
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double")


def _dup_frac(parts: Column) -> Column:
    """(|parts| − |distinct parts|) / |parts| — the Gopher duplicate-fraction
    shape shared by the line / paragraph / n-gram repetition rules."""
    n = F.size(parts)
    return (n - F.size(F.array_distinct(parts))).cast("double") / n.cast("double")


def _dup_frac_sql(parts: str) -> str:
    """DuckDB twin of _dup_frac over the list expression `parts`."""
    return f"(len({parts}) - len(list_distinct({parts})))::DOUBLE / len({parts})"


def dup_line_frac_expr(text: Column) -> Column:
    """Gopher repetition rule: fraction of lines that duplicate another line
    (Rae et al. 2021 §A1.1 'duplicate line fraction'). Single-line docs → 0."""
    return _dup_frac(F.split(text, "\n"))


def dup_para_frac_expr(text: Column) -> Column:
    """Duplicate-paragraph fraction (paragraphs = blank-line-separated)."""
    return _dup_frac(F.split(text, "\n\n"))


def word_2grams_expr(tokens: Column) -> Column:
    """Word 2-grams (NOT distinct — duplicate counting is the point).
    Single-token docs get one 'gram' = the token (dup fraction 0)."""
    n = F.size(tokens)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, 2)),
    )


def dup_2gram_frac_expr(text: Column) -> Column:
    """Duplicate word-2-gram fraction — the n-gram member of Gopher's
    repetition family; the one that stays informative on single-line
    space-normalised text, where the line/paragraph fractions degenerate."""
    return _dup_frac(word_2grams_expr(tokens_expr(text)))


def ngrams_expr(tokens: Column, n: int) -> Column:
    """Word n-grams as space-joined strings (NOT distinct — frequency is the
    point); docs with fewer than n tokens get an empty array. Unlike
    `word_2grams_expr` (which pads 1-token docs for dup_2gram_frac
    compatibility), this is the strict window used by the Gopher top-/dup-
    n-gram character rules."""
    sz = F.size(tokens)
    return F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _run_fold(sorted_arr: Column, extra0: dict, update, finish) -> Column:
    """Fold over a SORTED array tracking run lengths of equal elements —
    the shared machinery of the three zero-shuffle frequency folds below
    (equal elements are adjacent after array_sort, so run length =
    frequency). `extra0` maps extra accumulator fields to their initial
    Columns; `update(acc, x, run)` returns the updated extras as a dict;
    `finish(acc)` extracts the result. The `""` sentinel in acc0 with
    run=0 makes a leading empty element land on run=1 via the equal
    branch — a contract all callers share."""
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        *[v.alias(k) for k, v in extra0.items()],
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(
            F.lit(1).cast("long")
        )
        upd = update(acc, x, run)
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            *[v.alias(k) for k, v in upd.items()],
        )

    return F.aggregate(sorted_arr, acc0, step, finish)


def top_ngram_cov_expr(text: Column, n: int) -> Column:
    """Character coverage (occurrences × gram char length) of the most
    frequent word n-gram — the numerator of Gopher §A1.1's 'fraction of
    characters in the most common n-gram' (Rae et al. 2021, Table A1).
    Count ties resolve to the larger coverage; no-gram docs → 0.

    Shape: per-row fold over the SORTED gram array (equal grams adjacent →
    run length = frequency), entirely JVM-side `aggregate` — zero shuffle,
    zero Python, and a structurally different algorithm from the DuckDB
    twin (unnest → GROUP BY → window max), so the oracle match is a real
    cross-check, not the same code twice."""
    grams = F.array_sort(ngrams_expr(tokens_expr(text), n))
    zero = F.lit(0).cast("long")

    def update(acc, x, run):
        cov = run * F.length(x).cast("long")
        better = (run > acc["best_run"]) | (
            (run == acc["best_run"]) & (cov > acc["best_cov"])
        )
        return {
            "best_run": F.when(better, run).otherwise(acc["best_run"]),
            "best_cov": F.when(better, cov).otherwise(acc["best_cov"]),
        }

    return _run_fold(
        grams,
        {"best_run": zero, "best_cov": zero},
        update,
        lambda acc: acc["best_cov"],
    )


def dup_ngram_chars_expr(text: Column, n: int) -> Column:
    """Characters covered by word n-grams occurring ≥ 2 times (count × gram
    char length) — the numerator of Gopher §A1.1's duplicated-n-gram
    character fraction, in its deterministic overlap-unaware form (each
    occurrence counts its full char span; the positional-marking variant is
    order-dependent and not reproducible across engines). Callers clip the
    fraction at 1.0. Same zero-shuffle sorted-fold shape as
    `top_ngram_cov_expr`."""
    grams = F.array_sort(ngrams_expr(tokens_expr(text), n))
    zero = F.lit(0).cast("long")

    def update(acc, x, run):
        ln = F.length(x).cast("long")
        add = F.when(run == 2, F.lit(2) * ln).when(run > 2, ln).otherwise(zero)
        return {"acc": acc["acc"] + add}

    return _run_fold(grams, {"acc": zero}, update, lambda acc: acc["acc"])


def word_entropy_expr(text: Column) -> Column:
    """Shannon entropy (bits) of the document's word-unigram distribution —
    the classic low-entropy / repetitive-text quality filter (CCNet-style
    token-distribution heuristic; complements the Gopher duplicate-fraction
    rules above, which only see exact line/paragraph/n-gram repeats).

    H = log2(n) − (Σ_w c_w·log2 c_w)/n over token counts c_w, n = Σ c_w.
    Same zero-shuffle sorted-fold shape as `top_ngram_cov_expr`: equal
    tokens are adjacent after array_sort, so run length = frequency, and
    extending a run from c−1 to c adds the telescoping increment
    c·log2 c − (c−1)·log2(c−1), leaving Σ c·log2 c in the accumulator —
    entirely JVM-side, structurally different from the DuckDB twin
    (unnest → GROUP BY → sum), so the oracle match is a real cross-check.
    Single-token and empty docs → 0.0 exactly."""
    toks = F.array_sort(tokens_expr(text))

    def update(acc, x, run):
        rd = run.cast("double")
        inc = F.when(
            run > 1, rd * F.log2(rd) - (rd - 1.0) * F.log2(rd - 1.0)
        ).otherwise(F.lit(0.0))
        return {"s": acc["s"] + inc}

    sum_clogc = _run_fold(
        toks, {"s": F.lit(0.0)}, update, lambda acc: acc["s"]
    )
    n = F.size(toks).cast("double")
    return F.round(F.log2(n) - sum_clogc / n, 6)


# ASCII punctuation only (never counts CJK/accented letters as symbols);
# identical semantics in Java regex / RE2 / Python re.
SYMBOL_CLASS = "[!-/:-@\\[-`{-~]"


def ellipsis_count_expr(text: Column) -> Column:
    return F.regexp_count(text, F.lit(r"\.\.\.")).cast("long")


# --- Gopher §A1.1 document-format rules -----------------------------------
# Patterns drawn from the engine-portable subset (module notes below on
# C4_WORD_RE): explicit `[ \t]` instead of `\s` (Java's \s ≠ RE2's), the
# line list from a plain '\n' split (the same line definition as the
# dup_line_frac repetition rule), and suffix tests via endswith instead of
# a `$` anchor (Java's `$` matches before a trailing '\r'; RE2's does not).
BULLET_LINE_RE = r"^[ \t]*[-*•]"
ELLIPSIS_SUFFIXES: tuple[str, ...] = ("...", "…")
# A token is "wordlike" iff it contains ≥1 char that is not whitespace, an
# ASCII digit, or ASCII punctuation. A NEGATED ASCII class rather than a
# letter class: Java/RE2/Python disagree at the margins of \p{L}-style
# Unicode letter properties, but all three read an enumerated-ASCII
# complement identically — and it keeps CJK text (no [A-Za-z] anywhere)
# correctly wordlike, which is Gopher's intent for the ≥80% rule.
WORDLIKE_RE = r"[^ \t\n\r0-9!-/:-@\[-`{-~]"


def bullet_line_frac_expr(text: Column) -> Column:
    """Fraction of lines starting with a bullet glyph (-, * or •) after
    optional space/tab indent — Gopher drops documents where > 90% of
    lines do. Empty text is one empty line → 0.0."""
    lines = F.split(text, "\n")
    bullets = F.size(F.filter(lines, lambda ln: ln.rlike(BULLET_LINE_RE)))
    return bullets.cast("double") / F.size(lines).cast("double")


def ellipsis_line_frac_expr(text: Column) -> Column:
    """Fraction of lines ending in an ellipsis ('...' or U+2026) — Gopher
    drops documents where > 30% of lines do. endswith, not a `$`-anchored
    regex (portability note above)."""
    lines = F.split(text, "\n")

    def _ends(ln: Column) -> Column:
        out = ln.endswith(ELLIPSIS_SUFFIXES[0])
        for suf in ELLIPSIS_SUFFIXES[1:]:
            out = out | ln.endswith(suf)
        return out

    hits = F.size(F.filter(lines, _ends))
    return hits.cast("double") / F.size(lines).cast("double")


def alpha_word_frac_expr(text: Column) -> Column:
    """Fraction of tokens that are wordlike (WORDLIKE_RE note above) —
    Gopher keeps documents where ≥ 80% of words contain at least one
    alphabetic character."""
    toks = tokens_expr(text)
    hits = F.size(F.filter(toks, lambda x: x.rlike(WORDLIKE_RE)))
    return hits.cast("double") / F.size(toks).cast("double")


def bullet_line_frac_sql(col: str) -> str:
    """DuckDB twin of bullet_line_frac_expr (byte-identical pattern)."""
    lines = _lines_sql(col)
    return (
        f"len(list_filter({lines}, x -> regexp_matches(x,"
        f" '{BULLET_LINE_RE}')))::DOUBLE / len({lines})"
    )


def ellipsis_line_frac_sql(col: str) -> str:
    """DuckDB twin of ellipsis_line_frac_expr."""
    lines = _lines_sql(col)
    tests = " OR ".join(
        "ends_with(x, " + " || ".join(f"chr({ord(c)})" for c in suf) + ")"
        for suf in ELLIPSIS_SUFFIXES
    )
    return f"len(list_filter({lines}, x -> {tests}))::DOUBLE / len({lines})"


def alpha_word_frac_sql(col: str) -> str:
    """DuckDB twin of alpha_word_frac_expr (byte-identical pattern)."""
    toks = tokens_sql(col)
    return (
        f"len(list_filter({toks}, x -> regexp_matches(x,"
        f" '{WORDLIKE_RE}')))::DOUBLE / len({toks})"
    )


# ---------------------------------------------------------------------------
# C4 line-level cleaning (Raffel et al. 2020 §2.2). Unlike the doc-level
# flags above (which decide keep/drop for the whole page), C4's first move
# is WITHIN the page: retain only lines that end in a terminal punctuation
# mark, carry at least C4_MIN_LINE_WORDS words, and do not mention
# "javascript"; the page is rebuilt from the surviving lines. All pure
# higher-order expressions — zero shuffle, zero Python.
# ---------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 3  # C4: "only retained lines that contained ≥3 words"

# Word token for the C4 line rule. `\S` is NOT engine-portable (Java's \s
# includes \x0B, RE2's does not), so the class is spelled out byte-for-byte
# — Java regex (Spark), RE2 (DuckDB), and Python `re` all read it
# identically. Newline splitting is likewise explicit (`\r\n|\r|\n`)
# because Java's `$` matches before a trailing '\r' while RE2's matches
# only end-of-string: lines handed to the `$`-anchored terminal-punct rule
# must already be terminator-free on BOTH engines.
C4_WORD_RE = r"[^ \t\n\x0b\f\r]+"
C4_NEWLINE_RE = r"\r\n|\r|\n"


def c4_line_keep_expr(ln: Column) -> Column:
    """True iff a line survives C4's line filter: terminal punctuation
    ('.', '!', '?' or a closing double quote) at the end, at least
    C4_MIN_LINE_WORDS whitespace-separated words, and no 'javascript'
    mention (case-insensitive). `ln` must be a single line (no \\r/\\n) —
    split pages with C4_NEWLINE_RE so the `$` anchor agrees across
    engines (module note above)."""
    return (
        ln.rlike(r'[.!?"]$')
        & (
            F.size(F.regexp_extract_all(ln, F.lit(C4_WORD_RE), F.lit(0)))
            >= C4_MIN_LINE_WORDS
        )
        & ~F.lower(ln).contains("javascript")
    )


def c4_line_keep_sql(var: str) -> str:
    """DuckDB twin of c4_line_keep_expr over the SQL expression `var`.
    Patterns are byte-identical to the Spark side and drawn from the
    engine-portable subset (explicit word class, terminator-free input —
    module note above)."""
    return (
        f"(regexp_matches({var}, '[.!?\"]$')"
        f" AND len(regexp_extract_all({var}, '{C4_WORD_RE}')) >= {C4_MIN_LINE_WORDS}"
        f" AND NOT contains(lower({var}), 'javascript'))"
    )


def c4_clean_lines_expr(text: Column) -> Column:
    """Rebuild `text` from the lines c4_line_keep_expr retains (C4's
    within-page cleaning step). Splits on universal newlines (CRLF / CR /
    LF) so Windows-crawled pages never smuggle a '\\r' past the terminal-
    punct anchor. Empty result is '' (never NULL)."""
    return F.array_join(
        F.filter(F.split(text, C4_NEWLINE_RE), c4_line_keep_expr), "\n"
    )


def stopword_hits_expr(text: Column, stopwords: list[str]) -> Column:
    """Occurrence count (not distinct) of stop-words among tokens."""
    sw = F.lit(stopwords)
    return F.size(
        F.filter(tokens_expr(F.lower(text)), lambda x: F.array_contains(sw, x))
    ).cast("long")


def stopword_ratio_expr(text: Column, stopwords: list[str]) -> Column:
    return stopword_hits_expr(text, stopwords).cast("double") / n_words_expr(
        text
    ).cast("double")


# A compact English stop-word list (C4 uses a similar small set for its
# "contains ≥1 stop word" rule). Kept short and frozen: it is part of the
# keep/drop contract shared with the pandas + DuckDB oracles.
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "were", "be", "with", "that", "this", "for", "on", "it", "as",
]


# --- encoding-quality signals (the mojibake / broken-decode gate) ----------
# Pinned double-decode sequences: what e-acute, u-umlaut, and the right
# single quote (U+2019) become when their UTF-8 bytes are re-read as
# Latin-1 — (sequence, char length). Counted by exact length arithmetic
# ((len - len(replace)) / len(seq)): removals are whole multiples, so the
# division is exact on integers and identical across Spark / DuckDB /
# pandas.
MOJIBAKE_SEQS: list[tuple[str, int]] = [
    ("\u00c3\u00a9", 2),
    ("\u00c3\u00bc", 2),
    ("\u00e2\u0080\u0099", 3),
]
CTRL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"  # C0 minus \t \n \r
REPL_CHAR = "\ufffd"  # U+FFFD


def repl_count_expr(text: Column) -> Column:
    """Count of U+FFFD replacement characters."""
    return (
        F.length(text) - F.length(F.replace(text, F.lit(REPL_CHAR), F.lit("")))
    ).cast("long")


def mojibake_count_expr(text: Column) -> Column:
    """Total occurrences of the pinned UTF-8-as-Latin-1 sequences."""
    counts = [
        (
            (F.length(text) - F.length(F.replace(text, F.lit(seq), F.lit(""))))
            / F.lit(n)
        ).cast("long")
        for seq, n in MOJIBAKE_SEQS
    ]
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return total.cast("long")


def ctrl_frac_expr(text: Column) -> Column:
    """Fraction of C0 control chars (other than tab/newline/CR) among all
    chars; greatest(len, 1) denominator so the empty string is 0.0, not a
    0/0 NULL-vs-NaN engine divergence."""
    n = F.size(F.regexp_extract_all(text, F.lit(CTRL_CLASS), F.lit(0)))
    return n.cast("double") / F.greatest(F.length(text), F.lit(1)).cast(
        "double"
    )


def repl_count_sql(col: str) -> str:
    """DuckDB twin of repl_count_expr over the SQL expression `col`."""
    return (
        f"(length({col}) - length(replace({col}, chr(65533), '')))::BIGINT"
    )


def mojibake_count_sql(col: str) -> str:
    """DuckDB twin of mojibake_count_expr — identical code points built
    with chr(), identical exact length arithmetic."""
    terms = []
    for seq, n in MOJIBAKE_SEQS:
        lit = " || ".join(f"chr({ord(c)})" for c in seq)
        terms.append(
            f"((length({col}) - length(replace({col}, {lit}, ''))) / {n})"
        )
    return "(" + " + ".join(terms) + ")::BIGINT"


def ctrl_frac_sql(col: str) -> str:
    """DuckDB twin of ctrl_frac_expr."""
    return (
        f"len(regexp_extract_all({col}, '{CTRL_CLASS}'))::DOUBLE"
        f" / greatest(length({col}), 1)"
    )


@dataclass(frozen=True)
class GopherThresholds:
    """Keep/drop thresholds (Gopher §A1.1 defaults, adjusted to our corpora)."""

    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 2.0
    max_mean_word_len: float = 12.0
    max_symbol_ratio: float = 0.1
    min_distinct_word_ratio: float = 0.1
    min_stopword_ratio: float = 0.01
    max_ellipsis: int = 5
    # Repetition rules (Gopher §A1.1). Line/paragraph thresholds are the
    # published 0.30; the 2-gram default is inert-by-construction (< 1.0 is
    # impossible to exceed) because the synthetic space-normalised corpora
    # are small-vocab (measured median dup-2-gram fraction 0.64 vs ~0.1 on
    # real web text) — real-crawl deployments set Gopher's 0.20. The rule
    # is exercised with binding thresholds in tests/test_repetition.py.
    max_dup_line_frac: float = 0.3
    max_dup_para_frac: float = 0.3
    max_dup_2gram_frac: float = 1.0
    # Encoding-quality gate (mojibake / broken-decode). Defaults are
    # inert-by-construction on the clean-ASCII synthetic corpora (measured
    # 0 signal docs at 20k pages and at sf0.01), so the planted keep rates
    # are unchanged; exercised with planted corruption in
    # tests/test_encoding.py.
    max_repl_chars: int = 0
    max_mojibake: int = 0
    max_ctrl_frac: float = 0.001
    # Document-format gate (Gopher §A1.1: bullet / ellipsis-line /
    # alphabetic-word rules). Defaults are the paper's and inert on the
    # synthetic corpora (measured: 0 kept docs flip at 20k pages and 0
    # trips at sf0.001/0.01/0.1); exercised with planted format
    # violations in tests/test_format_rules.py.
    max_bullet_line_frac: float = 0.9
    max_ellipsis_line_frac: float = 0.3
    min_alpha_word_frac: float = 0.8


def rule_columns(
    text: Column,
    th: GopherThresholds | None = None,
    *,
    toks: Column | None = None,
    ltoks: Column | None = None,
    lines: Column | None = None,
    stopwords: list[str] = EN_STOPWORDS,
) -> dict[str, Column]:
    """All heuristic rule statistics for one text column, as named exprs.

    `toks` / `ltoks` / `lines` optionally take PRE-STAGED array columns
    (split(text,' '), split(lower(text),' '), split(text,'\\n')) so a
    report query can project the splits once and share them across every
    rule — higher-order exprs get no common-subexpression elimination, so
    without staging the token list is rebuilt ~6× and the line list 3×
    per row (the c4_line_clean staged-projection pattern). Defaults build
    the identical trees from `text`, so single-expression callers
    (filters, keep_expr) are unchanged. `stopwords` is the list
    stopword_ratio counts: the queries' EN_STOPWORDS, or the QA pass's
    all-language union."""
    th = th or GopherThresholds()
    toks = tokens_expr(text) if toks is None else toks
    ltoks = tokens_expr(F.lower(text)) if ltoks is None else ltoks
    lines = F.split(text, "\n") if lines is None else lines
    nw = F.size(toks).cast("long")
    fw = F.size(toks).cast("double")
    nl = F.size(lines).cast("double")
    sw = F.lit(stopwords)

    def _ell_line(ln: Column) -> Column:
        out = ln.endswith(ELLIPSIS_SUFFIXES[0])
        for suf in ELLIPSIS_SUFFIXES[1:]:
            out = out | ln.endswith(suf)
        return out

    return {
        "n_words": nw,
        "mean_word_len": F.length(
            F.replace(text, F.lit(" "), F.lit(""))
        ).cast("double")
        / fw,
        "symbol_ratio": F.regexp_count(text, F.lit(SYMBOL_CLASS)).cast(
            "double"
        )
        / fw,
        "distinct_word_ratio": F.size(F.array_distinct(toks)).cast("double")
        / fw,
        "stopword_ratio": F.size(
            F.filter(ltoks, lambda x: F.array_contains(sw, x))
        ).cast("double")
        / fw,
        "ellipsis_count": ellipsis_count_expr(text),
        "dup_line_frac": _dup_frac(lines),
        "dup_para_frac": dup_para_frac_expr(text),
        "dup_2gram_frac": _dup_frac(word_2grams_expr(toks)),
        "repl_n": repl_count_expr(text),
        "mojibake_n": mojibake_count_expr(text),
        "ctrl_frac": ctrl_frac_expr(text),
        "bullet_line_frac": F.size(
            F.filter(lines, lambda ln: ln.rlike(BULLET_LINE_RE))
        ).cast("double")
        / nl,
        "ellipsis_line_frac": F.size(F.filter(lines, _ell_line)).cast(
            "double"
        )
        / nl,
        "alpha_word_frac": F.size(
            F.filter(toks, lambda x: x.rlike(WORDLIKE_RE))
        ).cast("double")
        / fw,
    }


def rule_columns_sql(
    text: str, stopwords: list[str] = EN_STOPWORDS
) -> dict[str, str]:
    """DuckDB twin of rule_columns: the same keys in the same order, each
    statistic a SQL expression over the text expression `text`."""
    toks = tokens_sql(text)
    nw = f"len({toks})"
    sw = "[" + ", ".join(f"'{w}'" for w in stopwords) + "]"
    grams = (
        f"list_transform(range(1, greatest({nw} - 1, 1) + 1), "
        f"i -> ({toks})[i] || ' ' || coalesce(({toks})[i+1], ''))"
    )
    return {
        "n_words": f"{nw}::BIGINT",
        "mean_word_len": f"length(replace({text}, ' ', ''))::DOUBLE / {nw}",
        "symbol_ratio": (
            f"len(regexp_extract_all({text}, '{SYMBOL_CLASS}'))::DOUBLE / {nw}"
        ),
        "distinct_word_ratio": f"len(list_distinct({toks}))::DOUBLE / {nw}",
        "stopword_ratio": (
            f"len(list_filter({tokens_sql(f'lower({text})')},"
            f" x -> list_contains({sw}, x)))::DOUBLE / {nw}"
        ),
        "ellipsis_count": (
            f"len(regexp_extract_all({text}, '\\.\\.\\.'))::BIGINT"
        ),
        "dup_line_frac": _dup_frac_sql(_lines_sql(text)),
        "dup_para_frac": _dup_frac_sql(
            f"string_split({text}, chr(10) || chr(10))"
        ),
        "dup_2gram_frac": _dup_frac_sql(grams),
        "repl_n": repl_count_sql(text),
        "mojibake_n": mojibake_count_sql(text),
        "ctrl_frac": ctrl_frac_sql(text),
        "bullet_line_frac": bullet_line_frac_sql(text),
        "ellipsis_line_frac": ellipsis_line_frac_sql(text),
        "alpha_word_frac": alpha_word_frac_sql(text),
    }


# The keep gate, one row per conjunct: (rule column, comparator, threshold
# field). Threshold fields are named alike on GopherThresholds and QAConfig,
# and operator.ge/le apply unchanged to pyspark Columns and numpy arrays, so
# the Spark decision, the sink's numpy decision and the funnel violations
# all fold this one table.
RULE_CONJUNCTS: tuple[tuple[str, Callable, str], ...] = (
    ("n_words", operator.ge, "min_words"),
    ("n_words", operator.le, "max_words"),
    ("mean_word_len", operator.ge, "min_mean_word_len"),
    ("mean_word_len", operator.le, "max_mean_word_len"),
    ("symbol_ratio", operator.le, "max_symbol_ratio"),
    ("distinct_word_ratio", operator.ge, "min_distinct_word_ratio"),
    ("stopword_ratio", operator.ge, "min_stopword_ratio"),
    ("ellipsis_count", operator.le, "max_ellipsis"),
    ("dup_line_frac", operator.le, "max_dup_line_frac"),
    ("dup_para_frac", operator.le, "max_dup_para_frac"),
    ("dup_2gram_frac", operator.le, "max_dup_2gram_frac"),
    ("repl_n", operator.le, "max_repl_chars"),
    ("mojibake_n", operator.le, "max_mojibake"),
    ("ctrl_frac", operator.le, "max_ctrl_frac"),
    ("bullet_line_frac", operator.le, "max_bullet_line_frac"),
    ("ellipsis_line_frac", operator.le, "max_ellipsis_line_frac"),
    ("alpha_word_frac", operator.ge, "min_alpha_word_frac"),
)


def conjuncts(th=None, overrides: dict | None = None) -> list[tuple]:
    """RULE_CONJUNCTS with each threshold field resolved to its value:
    `overrides[field]` when given (a per-row profile value), else the
    field of `th` (any object carrying the threshold fields:
    GopherThresholds, QAConfig). An override naming no field is an
    error."""
    th = th or GopherThresholds()
    overrides = overrides or {}
    unknown = set(overrides) - {f for _, _, f in RULE_CONJUNCTS}
    if unknown:
        raise KeyError(f"unknown threshold overrides: {sorted(unknown)}")
    return [
        (col, op, overrides[f] if f in overrides else getattr(th, f))
        for col, op, f in RULE_CONJUNCTS
    ]


def keep_from(c, th=None, overrides: dict | None = None):
    """The keep/drop decision over already-built rule columns: `c` maps
    each rule column to a Column (`rule_columns(...)` output, or F.col
    refs to a projection of it) or to a numpy array of it (the sink's
    per-batch form), and the result is a Column or a boolean array
    accordingly. `th` and `overrides` as in `conjuncts`; an override is a
    profile Column or array standing in for the global literal."""
    return reduce(
        operator.and_, (op(c[col], t) for col, op, t in conjuncts(th, overrides))
    )


# SQL spelling of each RULE_CONJUNCTS comparator: (keep form, violation form)
_SQL_OPS = {operator.ge: (">=", "<"), operator.le: ("<=", ">")}


def _sql_value(t) -> str:
    """A threshold as DuckDB reads it. A float goes through a string cast:
    DuckDB reads `0.11666666666666667` as a DECIMAL whose conversion to
    DOUBLE is not correctly rounded (so the double it came from would not
    pass `>=` it), and reads no infinity literal. An int or a column
    expression (a joined profile column) goes as it is."""
    return f"'{float(t)!r}'::DOUBLE" if isinstance(t, float) else str(t)


def keep_sql(cols: dict[str, str], th=None, overrides: dict | None = None) -> str:
    """DuckDB twin of keep_from: `cols` maps each rule column to a SQL
    expression (its name in a projection, or `rule_columns_sql` output),
    and `overrides` maps threshold fields to SQL expressions."""
    return "(" + " AND ".join(
        f"{cols[col]} {_SQL_OPS[op][0]} {_sql_value(t)}"
        for col, op, t in conjuncts(th, overrides)
    ) + ")"


def violations_sql(cols: dict[str, str], th=None) -> dict[str, str]:
    """Per rule column, the SQL predicate that it fails the gate: its
    conjuncts negated and OR-ed, in RULE_CONJUNCTS order (the funnel
    reports' violation flags)."""
    out: dict[str, str] = {}
    for col, op, t in conjuncts(th):
        v = f"{cols[col]} {_SQL_OPS[op][1]} {_sql_value(t)}"
        out[col] = f"{out[col]} OR {v}" if col in out else v
    return out


def keep_expr(text: Column, th: GopherThresholds | None = None) -> Column:
    """The keep/drop decision: a single boolean expression over the rules
    (reference analogue: the implicit per-dataset 'assessment')."""
    th = th or GopherThresholds()
    return keep_from(rule_columns(text, th), th)
