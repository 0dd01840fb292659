"""North-rule payload queries (SURVEY.md §2.9) over the `documents` table.

The production QA pipeline applies the same functions to the pages table
(isimip_qa_spark/plans/pipeline.py); these twins pin the semantics against
DuckDB. Tokenisation contract everywhere: split on single space.

The rule-gate twins (gopher_rules, the funnels, the language-profile gate,
the threshold sweep, repetition_rules) take their SQL from
functions/textstats: the statistics from `rule_columns_sql`, the keep
predicate from `keep_sql` and the violation flags from `violations_sql`,
both folds of `RULE_CONJUNCTS`, so no threshold is written out here.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions import textstats as ts
from ..functions.fingerprint import (
    rolling_fingerprint_expr,
    rolling_fingerprint_sql,
    simhash_expr,
    simhash_sql,
)
from ..functions.langid import LANG_ORDER
from ..functions.perplexity import OOV_LOGPROB, model_values_sql, ppl_udf
from ..functions.scrub import scrub_expr, scrub_oracle_sql
from . import register

# the rule statistics as DuckDB expressions over `text`, and as the names
# of the columns a CTE projects them to (textstats.rule_columns_sql)
_RULES_SQL = ts.rule_columns_sql("text")
_RULE_NAMES = {k: k for k in _RULES_SQL}


def _rule_stats_sql(keys: str) -> str:
    """The rule-statistics CTE body over `documents`, carrying `keys`
    (shared by the gopher gate, the funnel reports and the per-language
    profile gate)."""
    return (
        f"SELECT {keys}, "
        + ", ".join(f"{v} AS {k}" for k, v in _RULES_SQL.items())
        + " FROM documents"
    )


# ---------------------------------------------------------------------------
# Gopher-style heuristic rules + keep/drop decision — pure column exprs
# (reference anchor: per-dataset assessment stats, extractions/*.py).
# ---------------------------------------------------------------------------

_ROUND6_RULES = (
    "mean_word_len", "symbol_ratio", "distinct_word_ratio",
    "stopword_ratio", "ctrl_frac", "bullet_line_frac",
    "ellipsis_line_frac", "alpha_word_frac",
)
# gopher_rules' statistic columns: all but the duplicate fractions, which
# repetition_rules reports
_GOPHER_COLS = tuple(k for k in _RULES_SQL if not k.startswith("dup_"))


def _round6(k: str) -> str:
    return f"round({k}, 6) AS {k}" if k in _ROUND6_RULES else k


_GOPHER_SQL = (
    f"WITH s AS ({_rule_stats_sql('doc_id')})\n"
    f"    SELECT doc_id, {', '.join(map(_round6, _GOPHER_COLS))},"
    f" {ts.keep_sql(_RULE_NAMES)} AS keep FROM s"
)


def _staged_rule_cols(
    d: DataFrame, keys: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """documents → one projection staging the three split arrays, then one
    projection evaluating every rule statistic exactly once (the
    c4_line_clean staged pattern: HOFs get no CSE, and CollapseProject
    keeps multi-referenced non-cheap exprs staged). Output: `keys` + one
    raw column per rule."""
    text = F.col("text")
    staged = d.select(
        *keys,
        "text",
        ts.tokens_expr(text).alias("_toks"),
        ts.tokens_expr(F.lower(text)).alias("_ltoks"),
        F.split(text, "\n").alias("_lines"),
    )
    cols = ts.rule_columns(
        F.col("text"),
        toks=F.col("_toks"),
        ltoks=F.col("_ltoks"),
        lines=F.col("_lines"),
    )
    return staged.select(
        *keys, *[v.alias(k) for k, v in cols.items()]
    )


@register("gopher_rules", oracle=_GOPHER_SQL)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    r = _staged_rule_cols(d)
    keep = ts.keep_from({k: F.col(k) for k in r.columns if k != "doc_id"})
    return r.select(
        "doc_id",
        *[F.round(F.col(k), 6).alias(k) if k in _ROUND6_RULES else F.col(k)
          for k in _GOPHER_COLS],
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules (Rae et al. 2021 §A1.1): duplicate line /
# paragraph / word-2-gram fractions + the published 0.30 / 0.30 / 0.20
# trip flags. Pure column expressions (split → array_distinct → size). On
# the space-normalised fixture corpus the line/para fractions are exactly 0
# (single-line docs); the 2-gram fraction carries the signal — the
# `repetitive` flag varies per doc and is value-hash-checked.
# ---------------------------------------------------------------------------


# the published trip thresholds of the `repetitive` flag
_REP_TRIPS = {"dup_line_frac": 0.3, "dup_para_frac": 0.3, "dup_2gram_frac": 0.2}


@register(
    "repetition_rules",
    oracle=(
        "WITH s AS (SELECT doc_id, "
        + ", ".join(f"{_RULES_SQL[k]} AS {k}" for k in _REP_TRIPS)
        + " FROM documents)\n    SELECT doc_id, "
        + ", ".join(f"round({k}, 6) AS {k}" for k in _REP_TRIPS)
        + ", ("
        + " OR ".join(f"{k} > {t}" for k, t in _REP_TRIPS.items())
        + ") AS repetitive FROM s"
    ),
)
def repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    cols = {
        "dup_line_frac": ts.dup_line_frac_expr(text),
        "dup_para_frac": ts.dup_para_frac_expr(text),
        "dup_2gram_frac": ts.dup_2gram_frac_expr(text),
    }
    trip = reduce(operator.or_, (cols[k] > t for k, t in _REP_TRIPS.items()))
    return d.select(
        "doc_id",
        *[F.round(c, 6).alias(k) for k, c in cols.items()],
        trip.alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# Gopher n-gram CHARACTER repetition rules (Rae et al. 2021 Table A1):
# fraction of characters in the most common {2,3,4}-gram and fraction of
# characters in duplicated {5,10}-grams (the endpoints of the published
# 5..10 family), with the paper's trip thresholds 0.20/0.18/0.16 and
# 0.15/0.10. Engine path: per-row sorted-array folds (textstats.
# top_ngram_cov_expr / dup_ngram_chars_expr) — zero shuffle, zero Python,
# whole-stage-codegen'd; at 10^12 docs this scans once and never exchanges.
# The oracle is a structurally different algorithm (unnest → GROUP BY gram
# → window max → pivot), so the hash match cross-checks the fold logic.
# Coverage is overlap-unaware (each occurrence counts its full span);
# fractions are clipped at 1.0 — see dup_ngram_chars_expr docstring.
# ---------------------------------------------------------------------------

_TOP_TH = {2: 0.20, 3: 0.18, 4: 0.16}
_DUP_TH = {5: 0.15, 10: 0.10}

_NGRAM_REP_SQL = f"""
    WITH base AS (
      SELECT doc_id, {ts.TOKENS_SQL} AS toks,
             length(text)::BIGINT AS nch
      FROM documents
    ),
    grams AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, len(toks) - n + 2),
                    i -> array_to_string(toks[i:i+n-1], ' '))) AS g
      FROM base, (VALUES (2), (3), (4), (5), (10)) AS ns(n)
      WHERE len(toks) >= n
    ),
    counts AS (
      SELECT doc_id, n, g, count(*)::BIGINT AS c, length(g)::BIGINT AS lg
      FROM grams GROUP BY doc_id, n, g
    ),
    winmax AS (
      SELECT *, max(c) OVER (PARTITION BY doc_id, n) AS mc FROM counts
    ),
    stats AS (
      SELECT doc_id, n,
             max(CASE WHEN c = mc THEN c * lg END)::BIGINT AS top_cov,
             coalesce(sum(CASE WHEN c >= 2 THEN c * lg END), 0)::BIGINT
               AS dup_chars
      FROM winmax GROUP BY doc_id, n
    ),
    pivoted AS (
      SELECT b.doc_id,
             least(1.0, CASE WHEN b.nch > 0 THEN
               coalesce(max(CASE WHEN s.n = 2 THEN s.top_cov END), 0) / b.nch
               ELSE 0.0 END) AS top_2gram_char_frac,
             least(1.0, CASE WHEN b.nch > 0 THEN
               coalesce(max(CASE WHEN s.n = 3 THEN s.top_cov END), 0) / b.nch
               ELSE 0.0 END) AS top_3gram_char_frac,
             least(1.0, CASE WHEN b.nch > 0 THEN
               coalesce(max(CASE WHEN s.n = 4 THEN s.top_cov END), 0) / b.nch
               ELSE 0.0 END) AS top_4gram_char_frac,
             least(1.0, CASE WHEN b.nch > 0 THEN
               coalesce(max(CASE WHEN s.n = 5 THEN s.dup_chars END), 0) / b.nch
               ELSE 0.0 END) AS dup_5gram_char_frac,
             least(1.0, CASE WHEN b.nch > 0 THEN
               coalesce(max(CASE WHEN s.n = 10 THEN s.dup_chars END), 0) / b.nch
               ELSE 0.0 END) AS dup_10gram_char_frac
      FROM base b LEFT JOIN stats s USING (doc_id)
      GROUP BY b.doc_id, b.nch
    )
    SELECT doc_id, top_2gram_char_frac, top_3gram_char_frac,
           top_4gram_char_frac, dup_5gram_char_frac, dup_10gram_char_frac,
           (top_2gram_char_frac > {_TOP_TH[2]}
            OR top_3gram_char_frac > {_TOP_TH[3]}
            OR top_4gram_char_frac > {_TOP_TH[4]}
            OR dup_5gram_char_frac > {_DUP_TH[5]}
            OR dup_10gram_char_frac > {_DUP_TH[10]}) AS repetitive_ngram
    FROM pivoted
"""


@register("repetition_ngram_rules", oracle=_NGRAM_REP_SQL)
def repetition_ngram_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    nch = F.length(text).cast("long")

    def frac(cov: F.Column) -> F.Column:
        return F.least(
            F.lit(1.0),
            F.when(nch > 0, cov.cast("double") / nch.cast("double")).otherwise(
                F.lit(0.0)
            ),
        )

    cols = {
        f"top_{n}gram_char_frac": frac(ts.top_ngram_cov_expr(text, n))
        for n in (2, 3, 4)
    } | {
        f"dup_{n}gram_char_frac": frac(ts.dup_ngram_chars_expr(text, n))
        for n in (5, 10)
    }
    trip = (
        (cols["top_2gram_char_frac"] > _TOP_TH[2])
        | (cols["top_3gram_char_frac"] > _TOP_TH[3])
        | (cols["top_4gram_char_frac"] > _TOP_TH[4])
        | (cols["dup_5gram_char_frac"] > _DUP_TH[5])
        | (cols["dup_10gram_char_frac"] > _DUP_TH[10])
    )
    return d.select(
        "doc_id",
        *[c.alias(name) for name, c in cols.items()],
        trip.alias("repetitive_ngram"),
    )


# ---------------------------------------------------------------------------
# Language-ID: integer stop-word scores per language + argmax with fixed
# tie-break. Spark side: the column expressions (argmax_lang over
# lang_score_exprs), DuckDB side: their SQL twins from the same generators.
# ---------------------------------------------------------------------------


def _langid_sql() -> str:
    from ..functions.langid import argmax_lang_sql, lang_score_sql

    score_cols = ", ".join(
        f"{lang_score_sql(ts.tokens_sql('lower(text)'), lang)} AS s_{lang}"
        for lang in LANG_ORDER
    )
    # argmax with first-in-LANG_ORDER tie-break (shared chain generator)
    pred = argmax_lang_sql(lambda lang: f"s_{lang}")
    return f"""
    WITH s AS (SELECT doc_id, {score_cols} FROM documents)
    SELECT doc_id, {', '.join('s_' + l for l in LANG_ORDER)}, {pred} AS lang_pred
    FROM s
    """


@register("langid", oracle=_langid_sql())
def langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.langid import argmax_lang, lang_score_exprs

    d = read_table(spark, sf_dir, "documents")
    scores = lang_score_exprs(F.col("text"))
    return d.select(
        "doc_id",
        *[scores[lang].alias(f"s_{lang}") for lang in LANG_ORDER],
        argmax_lang(scores).alias("lang_pred"),
    )


# ---------------------------------------------------------------------------
# Perplexity: broadcast unigram model + Arrow pandas UDF; oracle = unnest +
# join against the same model as a VALUES relation. Dyadic logprobs make
# avg_logprob bit-exact; ppl rounded for the exp() libm ulp.
# ---------------------------------------------------------------------------


def _ppl_sql() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({ts.tokens_sql('lower(text)')}) AS token
      FROM documents
    ),
    scored AS (
      SELECT tok.doc_id, coalesce(lm.lp, {OOV_LOGPROB!r}) AS lp
      FROM tok LEFT JOIN {model_values_sql()} ON tok.token = lm.token
    )
    SELECT doc_id, sum(lp) / count(*) AS avg_logprob,
           round(exp(-(sum(lp) / count(*))), 6) AS ppl
    FROM scored GROUP BY doc_id
    """


@register("perplexity", oracle=_ppl_sql())
def perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", ppl_udf(F.col("text")).alias("s"))
    return scored.select(
        "doc_id",
        F.col("s.avg_logprob").alias("avg_logprob"),
        F.round(F.col("s.ppl"), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# PII/toxicity scrub — JVM regexp_replace chain vs DuckDB RE2 chain on the
# engine-portable pattern subset (Python-re byte-identity is covered by the
# pipeline tests on planted PII).
# ---------------------------------------------------------------------------


@register(
    "scrub_pii",
    oracle=f"SELECT doc_id, {scrub_oracle_sql('text')} AS text_scrubbed FROM documents",
)
def scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", scrub_expr(F.col("text")).alias("text_scrubbed"))


def _pii_stats_sql() -> str:
    from ..functions.scrub import ALL_PATTERNS

    names = ["email", "phone", "ip", "toxic"]
    cols, prior = [], "text"
    for (pat, _), name in zip(ALL_PATTERNS, names):
        sql_pat = pat.replace("'", "''")
        cols.append(
            f"sum(len(regexp_extract_all({prior}, '{sql_pat}')))::BIGINT"
            f" AS n_{name}"
        )
        prior = f"regexp_replace({prior}, '{sql_pat}', 'x', 'g')"
    return f"""
    SELECT source, {", ".join(cols)},
           sum(CASE WHEN {scrub_oracle_sql("text")} != text
                    THEN 1 ELSE 0 END)::BIGINT AS docs_affected,
           count(*)::BIGINT AS n_docs
    FROM documents GROUP BY source
    """


def pii_stats_frame(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Frame-level core over (group_col, text) — the fixture documents
    table carries no PII (all-zero rows, oracle still exact), so the
    planted-PII test drives this directly (tests/test_pii_stats.py)."""
    from ..functions.scrub import ALL_PATTERNS

    names = ["email", "phone", "ip", "toxic"]
    aggs = []
    prior = F.col("text")
    for (pat, _), name in zip(ALL_PATTERNS, names):
        aggs.append(
            F.sum(F.regexp_count(prior, F.lit(pat))).cast("long").alias(f"n_{name}")
        )
        prior = F.regexp_replace(prior, pat, "x")
    return docs.groupBy(group_col).agg(
        *aggs,
        F.sum(
            F.when(scrub_expr(F.col("text")) != F.col("text"), 1).otherwise(0)
        )
        .cast("long")
        .alias("docs_affected"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register("pii_stats", oracle=_pii_stats_sql())
def pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII/toxicity replacement counts — the scrub stage's
    audit rollup (what a privacy review reads before a release). Counts
    follow scrub's SEQUENTIAL semantics: pattern i is counted on the text
    with patterns < i already replaced, so the numbers are exactly the
    replacements `scrub_pii` performs (an email's inner phone-shaped run
    is not double-counted). One scan, conditional hash agg keyed on
    source — counts travel as int64 partials, text never shuffles."""
    return pii_stats_frame(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish regex segmentation count.
# ---------------------------------------------------------------------------


@register(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           len({ts.TOKENS_SQL})::BIGINT AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS bpe_ish_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        ts.n_words_expr(F.col("text")).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


# ---------------------------------------------------------------------------
# Composite quality score (second-stage rollup analogue of the plot phase).
# Exact-ish: ratios of integers; rounded to 6.
# ---------------------------------------------------------------------------


# cross-engine twins shared with the mixing queries (queries/mixing.py)
QUALITY_SQL = f"""round(
             0.4 * least(len({ts.TOKENS_SQL}) / 100.0, 1.0)
           + 0.3 * ({_RULES_SQL["distinct_word_ratio"]})
           + 0.3 * least(({_RULES_SQL["stopword_ratio"]}) / 0.1, 1.0)
           , 6)"""


def quality_expr(text: Column) -> Column:
    nw = ts.n_words_expr(text)
    q = (
        0.4 * F.least(nw / 100.0, F.lit(1.0))
        + 0.3 * ts.distinct_word_ratio_expr(text)
        + 0.3 * F.least(ts.stopword_ratio_expr(text, ts.EN_STOPWORDS) / 0.1, F.lit(1.0))
    )
    return F.round(q, 6)


@register(
    "quality_score",
    oracle=f"SELECT doc_id, {QUALITY_SQL} AS quality FROM documents",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", quality_expr(F.col("text")).alias("quality"))


# ---------------------------------------------------------------------------
# Word-unigram Shannon entropy filter (CCNet-style low-entropy/repetitive-
# text heuristic). Keep flag is computed from the ROUNDED entropy on both
# engines so the threshold comparison can never straddle a rounding edge.
# ---------------------------------------------------------------------------

ENTROPY_MIN = 2.0  # bits; docs whose token distribution carries less are dropped

_ENTROPY_SQL = f"""
    WITH t AS (SELECT doc_id, unnest({ts.TOKENS_SQL}) AS tok FROM documents
               WHERE text IS NOT NULL),
    c AS (SELECT doc_id, count(*) AS cnt FROM t GROUP BY doc_id, tok),
    a AS (SELECT doc_id, sum(cnt)::DOUBLE AS n,
                 sum(cnt * log2(cnt::DOUBLE)) AS s
          FROM c GROUP BY doc_id)
    SELECT doc_id,
           round(log2(n) - s / n, 6) AS word_entropy,
           round(log2(n) - s / n, 6) >= {ENTROPY_MIN} AS entropy_ok
    FROM a
    """


@register("word_entropy", oracle=_ENTROPY_SQL)
def word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc word-unigram entropy + keep flag. Pure projection (the
    sorted-fold in textstats.word_entropy_expr) — zero exchanges, zero
    Python; asserted in tests/test_entropy.py. NULL-text docs are dropped
    on both sides (the oracle's unnest would silently eliminate them while
    a bare select would keep a NULL-entropy row — a row-count parity trap
    if the corpus ever carries NULL text)."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    h = ts.word_entropy_expr(F.col("text"))
    return d.select(
        "doc_id",
        h.alias("word_entropy"),
        (h >= F.lit(ENTROPY_MIN)).alias("entropy_ok"),
    )


# ---------------------------------------------------------------------------
# Order-sensitive rolling-hash document fingerprint (exact integer math).
# ---------------------------------------------------------------------------


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, {rolling_fingerprint_sql(ts.TOKENS_SQL)} AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    toks = ts.tokens_expr(F.col("text"))
    return d.select("doc_id", rolling_fingerprint_expr(toks).alias("fp"))


# ---------------------------------------------------------------------------
# SimHash value per document (exact integer math; pair search in dedup.py).
# ---------------------------------------------------------------------------


@register(
    "simhash",
    oracle=f"SELECT doc_id, {simhash_sql(ts.TOKENS_SQL)} AS sh FROM documents",
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    toks = ts.tokens_expr(F.col("text"))
    return d.select("doc_id", simhash_expr(toks).alias("sh"))


# ---------------------------------------------------------------------------
# Second-stage rollup: per (lang, source) keep-rate + mean quality — the
# analogue of the reference's plot-phase groupbys (plots/*.py).
# ---------------------------------------------------------------------------


@register(
    "lang_quality_rollup",
    oracle=f"""
    WITH g AS ({_GOPHER_SQL})
    SELECT d.lang, d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           round(avg(floor(g.distinct_word_ratio * 1048576) / 1048576), 6)
             AS avg_distinct_ratio
    FROM documents d JOIN g ON d.doc_id = g.doc_id
    GROUP BY d.lang, d.source
    """,
)
def lang_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) keep-rate + mean quality. The per-doc ratio is
    1/2²⁰-dyadic-quantized BEFORE the average on both engines (the
    source_divergence/pagerank discipline): a sum of ≤2²⁰-denominator
    dyadics is exact in any order, so the group mean is one IEEE division
    of identical operands — found the hard way when one (fr, src19) group
    at sf0.001 landed a summation-order ULP exactly on the round-6
    boundary (0.510943 vs 0.510942)."""
    d = read_table(spark, sf_dir, "documents")
    g = gopher_rules(spark, sf_dir)
    q = F.floor(F.col("distinct_word_ratio") * (1 << 20)) / (1 << 20)
    return (
        d.join(g, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
            F.round(F.avg(q), 6).alias("avg_distinct_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing: treat text bytes as an opaque binary column with typed
# metadata (decode itself is stubbed in operators/multimodal.py).
# ---------------------------------------------------------------------------


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           ascii(text[1:1]) AS first_byte
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("n_bytes"),
        F.ascii(F.col("text")).cast("int").alias("first_byte"),
    )


# ---------------------------------------------------------------------------
# Keep/drop funnel: per-rule violation counts plus waterfall attribution
# (first-failing-rule in a fixed order) — the observability report a QA
# pipeline owner reads before touching any threshold. One scan, one
# conditional hash-agg to a single row, stack()ed into the report shape on
# the driver side of the plan; no explode, no per-rule pass.
# ---------------------------------------------------------------------------

# (rule column, DuckDB violation predicate over the s CTE columns)
_FUNNEL_RULES = list(ts.violations_sql(_RULE_NAMES).items())

_FUNNEL_STATS_SQL = _rule_stats_sql("doc_id, source")

_FUNNEL_SQL = (
    f"WITH s AS ({_FUNNEL_STATS_SQL}),\n    flags AS (\n      SELECT "
    + ",\n             ".join(
        f"({pred}) AS v{i}" for i, (_, pred) in enumerate(_FUNNEL_RULES)
    )
    + ",\n             CASE "
    + " ".join(
        f"WHEN ({pred}) THEN {i}"
        for i, (_, pred) in enumerate(_FUNNEL_RULES)
    )
    + " END AS first_fail FROM s\n    ),\n    agg AS (\n      SELECT "
    + ",\n             ".join(
        f"sum(v{i}::INT)::BIGINT AS nv{i},"
        f" sum((first_fail = {i})::INT)::BIGINT AS na{i}"
        for i in range(len(_FUNNEL_RULES))
    )
    + ",\n             sum((first_fail IS NULL)::INT)::BIGINT AS kept"
    " FROM flags\n    )\n    "
    + "SELECT rule, n_viol, n_attributed FROM agg, (VALUES "
    + ", ".join(f"('{n}')" for n, _ in _FUNNEL_RULES)
    + ", ('(kept)')) AS r(rule), LATERAL (SELECT CASE rule "
    + " ".join(
        f"WHEN '{n}' THEN nv{i}" for i, (n, _) in enumerate(_FUNNEL_RULES)
    )
    + " ELSE 0 END AS n_viol, CASE rule "
    + " ".join(
        f"WHEN '{n}' THEN na{i}" for i, (n, _) in enumerate(_FUNNEL_RULES)
    )
    + " ELSE kept END AS n_attributed) AS x"
)


def _violations() -> dict[str, Column]:
    """Per-rule violation flag exprs over a `_staged_rule_cols` frame —
    the negated keep_from conjuncts, OR-ed per rule column, shared by the
    corpus funnel (drop_attribution) and the per-source funnel
    (source_rule_funnel); the Spark form of ts.violations_sql."""
    viol: dict[str, Column] = {}
    for col, op, t in ts.conjuncts():
        v = ~op(F.col(col), t)
        viol[col] = viol[col] | v if col in viol else v
    return viol


@register("drop_attribution", oracle=_FUNNEL_SQL)
def drop_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule violation counts (marginal) and waterfall attribution (docs
    whose FIRST failing rule, in the fixed funnel order, is this one), plus
    a '(kept)' row. The report that tells a pipeline owner which threshold
    is doing the dropping before they tune anything.

    Scale shape: one scan → a PROJECTION evaluating each rule expression
    exactly once per row into boolean flag columns (+ the first-fail index)
    → one hash-agg over the cheap flags, collapsing to a single row
    (partial aggregation map-side) → stack() into report rows. The corpus
    never shuffles; the only exchange carries one row. Aggregating the
    rule expressions directly measures ~15% slower steady-state
    (interleaved min-of-3 on sf0.1: 2.21s vs 1.89s) — codegen
    subexpression elimination dedupes most but not all of the 19
    aggregate inputs' shared tokenize/regex trees; the projection makes
    single evaluation structural instead of optimizer-dependent."""
    d = read_table(spark, sf_dir, "documents")
    r = _staged_rule_cols(d)
    viol = _violations()
    order = [n for n, _ in _FUNNEL_RULES]
    flags = r.select(
        *[viol[n].alias(f"v{i}") for i, n in enumerate(order)]
    ).select(
        "*",
        F.coalesce(
            *[F.when(F.col(f"v{i}"), F.lit(i)) for i in range(len(order))]
        ).alias("ff"),
    )
    aggs = []
    for i, n in enumerate(order):
        aggs.append(F.sum(F.col(f"v{i}").cast("long")).alias(f"nv{i}"))
        aggs.append(F.sum((F.col("ff") == i).cast("long")).alias(f"na{i}"))
    aggs.append(F.sum(F.col("ff").isNull().cast("long")).alias("kept"))
    row = flags.agg(*aggs)
    stack_args = ", ".join(
        f"'{n}', nv{i}, na{i}" for i, n in enumerate(order)
    )
    return row.select(
        F.expr(
            f"stack({len(order) + 1}, {stack_args}, '(kept)', 0L, kept)"
            " as (rule, n_viol, n_attributed)"
        )
    )


# ---------------------------------------------------------------------------
# source_rule_funnel — the per-source slice of the funnel: which rule
# trips WHERE. At crawl scale this is the report that localises a
# boilerplate farm / mis-decoded host to the rule it trips, before
# anyone re-tunes a global threshold (the per-source complement of
# host_reputation's keep-rate).
# ---------------------------------------------------------------------------

_SOURCE_FUNNEL_SQL = (
    f"WITH s AS ({_FUNNEL_STATS_SQL}),\n    flags AS (\n      SELECT source, "
    + ",\n             ".join(
        f"({pred}) AS v{i}" for i, (_, pred) in enumerate(_FUNNEL_RULES)
    )
    + " FROM s\n    ),\n    agg AS (\n      SELECT source,"
    " count(*)::BIGINT AS n_docs, "
    + ", ".join(
        f"sum(v{i}::INT)::BIGINT AS nv{i}"
        for i in range(len(_FUNNEL_RULES))
    )
    + " FROM flags GROUP BY source\n    )\n    "
    "SELECT source, rule, n_docs, n_viol,"
    " round(n_viol / n_docs, 6) AS viol_rate FROM agg, (VALUES "
    + ", ".join(f"('{n}')" for n, _ in _FUNNEL_RULES)
    + ") AS r(rule), LATERAL (SELECT CASE rule "
    + " ".join(
        f"WHEN '{n}' THEN nv{i}" for i, (n, _) in enumerate(_FUNNEL_RULES)
    )
    + " END AS n_viol) AS x"
)


@register("source_rule_funnel", oracle=_SOURCE_FUNNEL_SQL)
def source_rule_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, rule, n_docs, n_viol, viol_rate): marginal rule-violation
    counts per source over all 15 gate rules.

    Scale shape: one scan → the shared staged-arrays rule projection →
    cheap boolean flags → ONE hash agg keyed on source (map-side partial
    combine; result rows = |sources| × 15, tiny) → stack() into report
    rows. The corpus shuffles only as 16 longs per source."""
    d = read_table(spark, sf_dir, "documents")
    r = _staged_rule_cols(d, keys=("source",))
    viol = _violations()
    order = [n for n, _ in _FUNNEL_RULES]
    flags = r.select(
        "source", *[viol[n].alias(f"v{i}") for i, n in enumerate(order)]
    )
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.col(f"v{i}").cast("long")).alias(f"nv{i}")
            for i in range(len(order))
        ],
    )
    stack_args = ", ".join(f"'{n}', nv{i}" for i, n in enumerate(order))
    long = agg.select(
        "source",
        "n_docs",
        F.expr(f"stack({len(order)}, {stack_args}) as (rule, n_viol)"),
    )
    return long.select(
        "source",
        "rule",
        "n_docs",
        "n_viol",
        F.round(F.col("n_viol") / F.col("n_docs"), 6).alias("viol_rate"),
    )


# ---------------------------------------------------------------------------
# Per-language threshold profiles (CCNet practice: filtering thresholds
# are language-dependent — stop-word coverage means little for languages
# the stop-word list barely covers, and CJK needs different length/alpha
# bounds). The profile is DATA, not code: a tiny dim table
# broadcast-joined on a defaulted lang key, so production updates
# profiles without a redeploy, and the corpus-side plan stays scan →
# staged rules → BroadcastHashJoin → project (no corpus shuffle;
# plan-asserted). The three profiled thresholds flow through keep_from's
# overrides, so the 17-conjunct gate stays single-sourced.
# ---------------------------------------------------------------------------

LANG_PROFILES: list[tuple[str, int, float, float]] = [
    # (lang, min_words, min_stopword_ratio, min_alpha_word_frac)
    ("en", 50, 0.01, 0.8),
    ("es", 40, 0.005, 0.8),
    ("fr", 40, 0.005, 0.8),
    ("de", 40, 0.005, 0.8),
    ("zh", 30, 0.0, 0.5),
    ("default", 50, 0.01, 0.8),
]


# the language-profiled thresholds and the profile columns that override them
_PROFILE_COLS = {
    "min_words": "p_min_words",
    "min_stopword_ratio": "p_min_sw",
    "min_alpha_word_frac": "p_min_alpha",
}

_PROFILE_LANGS = [l for l, *_ in LANG_PROFILES if l != "default"]

_LANG_PROFILE_SQL = (
    f"WITH s AS ({_rule_stats_sql('doc_id, lang')}),\n"
    "    prof(p_lang, p_min_words, p_min_sw, p_min_alpha) AS (VALUES "
    + ", ".join(
        f"('{l}', {w}, {sw!r}::DOUBLE, {af!r}::DOUBLE)"
        for l, w, sw, af in LANG_PROFILES
    )
    + "),\n    j AS (SELECT s.*, p.p_min_words, p.p_min_sw, p.p_min_alpha"
    " FROM s JOIN prof p ON p.p_lang = (CASE WHEN s.lang IN ("
    + ", ".join(f"'{l}'" for l in _PROFILE_LANGS)
    + ") THEN s.lang ELSE 'default' END))\n"
    f"    SELECT doc_id, lang, {ts.keep_sql(_RULE_NAMES)} AS keep_global,"
    f" {ts.keep_sql(_RULE_NAMES, overrides=_PROFILE_COLS)}"
    " AS keep_profile FROM j"
)


@register("lang_profile_rules", oracle=_LANG_PROFILE_SQL)
def lang_profile_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, keep_global, keep_profile): the full heuristic gate
    evaluated twice — once with the global thresholds, once with the
    document's language profile (broadcast dim, unknown langs fall back
    to the 'default' row).

    Scale shape: one scan → the shared staged-arrays rule projection →
    BroadcastHashJoin against the 6-row profile dim on a defaulted lang
    key → one projection computing both gates from the same rule
    columns. The corpus never shuffles."""
    d = read_table(spark, sf_dir, "documents")
    r = _staged_rule_cols(d, keys=("doc_id", "lang"))
    prof = spark.createDataFrame(
        LANG_PROFILES,
        "p_lang string, p_min_words long, p_min_sw double, p_min_alpha double",
    )
    key = F.when(
        F.col("lang").isin(_PROFILE_LANGS), F.col("lang")
    ).otherwise(F.lit("default"))
    j = r.join(F.broadcast(prof), key == F.col("p_lang"), "inner")
    c = {k: F.col(k) for k in r.columns if k not in ("doc_id", "lang")}
    keep_p = ts.keep_from(
        c, overrides={f: F.col(p) for f, p in _PROFILE_COLS.items()}
    )
    return j.select(
        "doc_id",
        "lang",
        ts.keep_from(c).alias("keep_global"),
        keep_p.alias("keep_profile"),
    )


# ---------------------------------------------------------------------------
# rule_threshold_sweep — keep-rate curve per candidate threshold
# ---------------------------------------------------------------------------

# the sweep grids are pipeline config, compiled into the agg like the rule
# thresholds themselves (drop_attribution pattern): corpus never joins a dim
SWEEP_GRID: list[tuple[str, float]] = (
    [("stopword_ratio", t) for t in (0.0, 0.005, 0.01, 0.02, 0.05, 0.1)]
    + [("min_words", float(t)) for t in (10, 25, 50, 75, 100, 150)]
    + [("min_alpha_word_frac", t) for t in (0.5, 0.6, 0.7, 0.8, 0.9)]
)


def _sweep_sql() -> str:
    sw, nw, af = (
        _RULES_SQL[k] for k in ("stopword_ratio", "n_words", "alpha_word_frac")
    )
    conds = {
        "stopword_ratio": lambda t: f"sw >= {t!r}",
        "min_words": lambda t: f"nw >= {t!r}",
        "min_alpha_word_frac": lambda t: f"af >= {t!r}",
    }
    rows = " UNION ALL ".join(
        f"SELECT '{rule}' AS rule, {t!r}::DOUBLE AS threshold, n_docs, "
        f"p{i} AS n_pass, p{i}::DOUBLE / n_docs AS pass_rate FROM r"
        for i, (rule, t) in enumerate(SWEEP_GRID)
    )
    passes = ", ".join(
        f"sum(CASE WHEN {conds[rule](t)} THEN 1 ELSE 0 END)::BIGINT AS p{i}"
        for i, (rule, t) in enumerate(SWEEP_GRID)
    )
    return f"""
    WITH s AS (SELECT {sw} AS sw, {nw} AS nw, {af} AS af FROM documents),
    r AS (SELECT count(*)::BIGINT AS n_docs, {passes} FROM s)
    SELECT * FROM ({rows}) ORDER BY rule, threshold
"""


@register("rule_threshold_sweep", _sweep_sql())
def rule_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-rate at each candidate threshold for the tunable rules — the
    sweep a pipeline owner runs BEFORE committing a threshold change
    (drop_attribution reports where the current thresholds bite; this
    reports what any other choice would do, in one pass).

    Scale shape: same as drop_attribution — one scan computes each rule
    statistic once, one conditional hash-agg collapses the corpus to a
    single row of {n} counters (map-side partials), stack() turns it into
    report rows. The corpus never shuffles and never joins the grid; the
    only exchange carries one row."""
    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    stats = d.select(
        ts.stopword_ratio_expr(text, ts.EN_STOPWORDS).alias("sw"),
        ts.n_words_expr(text).alias("nw"),
        ts.alpha_word_frac_expr(text).alias("af"),
    )
    conds = {
        "stopword_ratio": lambda t: F.col("sw") >= t,
        "min_words": lambda t: F.col("nw") >= t,
        "min_alpha_word_frac": lambda t: F.col("af") >= t,
    }
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for i, (rule, t) in enumerate(SWEEP_GRID):
        aggs.append(
            F.sum(conds[rule](t).cast("long")).alias(f"p{i}")
        )
    row = stats.agg(*aggs)
    stack_args = ", ".join(
        f"'{rule}', {t!r}D, p{i}" for i, (rule, t) in enumerate(SWEEP_GRID)
    )
    return (
        row.select(
            "n_docs",
            F.expr(
                f"stack({len(SWEEP_GRID)}, {stack_args})"
                " as (rule, threshold, n_pass)"
            ),
        )
        .select(
            "rule",
            "threshold",
            "n_docs",
            "n_pass",
            (F.col("n_pass").cast("double") / F.col("n_docs")).alias(
                "pass_rate"
            ),
        )
        .orderBy("rule", "threshold")
    )


# ---------------------------------------------------------------------------
# Windowed language consistency: language-ID each consecutive LANG_WIN-token
# window of a document and measure agreement with the whole-document
# prediction — the chunked-langid audit (CLD/CCNet practice) that catches
# spliced or machine-mixed documents a single whole-doc argmax hides: a
# half-English half-German page gets ONE confident doc label but only ~half
# its windows agree with it.
#
# Pure column expressions end to end (the per-window argmax is the SAME
# stop-word score chain as functions/langid.lang_pred_expr, applied inside
# a transform over token slices) — one pruned scan, zero shuffles, zero
# UDFs; the ~20 score sub-expressions per window stay columnar. NULL text
# propagates NULL through every column on both engines (no row drops).
# ---------------------------------------------------------------------------

LANG_WIN = 10  # tokens per langid window
MIX_AGREE_MIN = 0.7  # agree_frac below this flags the doc as mixed


def _win_pred_sql(win: str) -> str:
    """The shared argmax chain inlined over one token-array expression —
    the SAME generators `_langid_sql` uses, so the windowed and doc-level
    predictors cannot diverge."""
    from ..functions.langid import argmax_lang_sql, lang_score_sql

    return argmax_lang_sql(lambda lang: lang_score_sql(win, lang))


def _lang_consistency_sql() -> str:
    w = LANG_WIN
    toks = ts.tokens_sql("lower(text)")
    n_win = f"((len({toks}) + {w - 1}) // {w})"
    wins = (
        f"list_transform(range(0, {n_win}), "
        f"i -> ({toks})[i*{w}+1 : i*{w}+{w}])"
    )
    return f"""
    WITH b AS (
      SELECT doc_id,
             {_win_pred_sql(toks)} AS doc_lang,
             list_transform({wins}, wn -> {_win_pred_sql('wn')}) AS preds,
             {n_win}::BIGINT AS n_windows
      FROM documents
    ),
    a AS (
      SELECT doc_id, doc_lang, n_windows,
             len(list_filter(preds, p -> p = doc_lang))::BIGINT AS n_agree
      FROM b
    )
    SELECT doc_id, doc_lang, n_windows, n_agree,
           round(n_agree::DOUBLE / n_windows, 6) AS agree_frac,
           round(n_agree::DOUBLE / n_windows, 6) < {MIX_AGREE_MIN}
             AS mixed_lang_doc
    FROM a ORDER BY doc_id
    """


@register("lang_consistency", _lang_consistency_sql())
def lang_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, doc_lang, n_windows, n_agree, agree_frac, mixed_lang_doc):
    per-window langid agreement with the whole-document prediction."""
    from ..functions.langid import lang_pred_expr, lang_pred_tokens_expr

    d = read_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    n_win = (
        F.floor((F.size(toks) + F.lit(LANG_WIN - 1)) / F.lit(LANG_WIN))
        .cast("long")
    )
    wins = F.transform(
        F.sequence(F.lit(0), (n_win - 1).cast("int")),
        lambda i: F.slice(toks, i * LANG_WIN + 1, LANG_WIN),
    )
    preds = F.transform(wins, lang_pred_tokens_expr)
    doc_pred = lang_pred_expr(F.col("text"))
    n_agree = F.size(F.filter(preds, lambda p: p == doc_pred)).cast("long")
    frac = F.round(
        F.col("n_agree").cast("double") / F.col("n_windows"), 6
    )
    return (
        d.select(
            "doc_id",
            doc_pred.alias("doc_lang"),
            n_win.alias("n_windows"),
            n_agree.alias("n_agree"),
        )
        .select(
            "doc_id",
            "doc_lang",
            "n_windows",
            "n_agree",
            frac.alias("agree_frac"),
            (frac < MIX_AGREE_MIN).alias("mixed_lang_doc"),
        )
        # no terminal orderBy: this is a per-DOCUMENT output, so a global
        # sort would shuffle the whole corpus for presentation only (the
        # driver's comparison is order-insensitive)
    )


# ---------------------------------------------------------------------------
# Encoding quality: the mojibake / broken-decode pre-filter every crawl
# pipeline runs before content rules (ftfy / CCNet territory) — a page that
# arrived as UTF-8-decoded-as-Latin-1, or whose decoder emitted U+FFFD
# replacement characters, or that is full of raw C0 control bytes, is
# garbage no Gopher rule models (its words LOOK like words).
#
# Three integer signals, all pure column exprs over one constructed page:
#   repl_n     count of U+FFFD replacement characters
#   ctrl_n     count of C0 control chars other than \t \n \r
#   mojibake_n occurrences of pinned UTF-8-as-Latin-1 sequences (U+00C3
#              U+00A9 etc. — what one common non-ASCII char becomes under
#              the double-decode), counted by exact length arithmetic
#              ((len - len(replace(page, seq, ''))) / len(seq): removals
#              are whole multiples, so the division is exact on integers)
# and the gate enc_keep = no replacement chars, no mojibake, control chars
# under 1 per mille — integer comparisons only, so the boolean is
# engine-exact with no float in the chain.
#
# Fixture plant (the c4_line_clean pattern): the synthetic corpus is clean
# ASCII, so each corruption branch is planted deterministically by
# doc_id % 5 and the metric runs over the constructed page; production
# input passes its own text, everything below the plant is
# construction-agnostic.
#
# Scale shape: one scan -> one projection, zero shuffle, zero Python,
# whole-stage codegen end to end (asserted in tests/test_encoding.py).
# The SQL twin builds the identical code points with chr(), so the two
# sides cannot drift on byte representation.
# ---------------------------------------------------------------------------

# the pinned sequences / classes live in functions/textstats.py
# (they are part of the keep-gate contract); aliased here for the
# fixture plant and the standalone-query oracle
MOJIBAKE_SEQS = ts.MOJIBAKE_SEQS
_CTRL_CLASS = ts.CTRL_CLASS
_REPL_CHAR = ts.REPL_CHAR


def _enc_plant_expr(text: Column) -> Column:
    m = F.pmod(F.col("doc_id"), F.lit(5))
    return F.concat(
        text,
        F.when(m == 0, F.lit(" cafÃ© dâhiver"))
        .when(m == 1, F.lit(" broken � decode"))
        .when(m == 2, F.lit(" bell\x07bell"))
        .otherwise(F.lit("")),
    )


def _enc_plant_sql() -> str:
    return (
        "text || CASE (doc_id % 5)"
        "  WHEN 0 THEN ' caf' || chr(195) || chr(169)"
        "           || ' d' || chr(226) || chr(128) || chr(153) || 'hiver'"
        "  WHEN 1 THEN ' broken ' || chr(65533) || ' decode'"
        "  WHEN 2 THEN ' bell' || chr(7) || 'bell'"
        "  ELSE '' END"
    )


def _seq_count_sql(page: str, seq_chars: list[int], n: int) -> str:
    lit = " || ".join(f"chr({c})" for c in seq_chars)
    return f"((length({page}) - length(replace({page}, {lit}, ''))) / {n})"


_ENC_SQL = f"""
    WITH p AS (SELECT doc_id, {_enc_plant_sql()} AS page FROM documents),
    s AS (
      SELECT doc_id,
             length(page)::BIGINT AS n_chars,
             (length(page) - length(replace(page, chr(65533), '')))::BIGINT
               AS repl_n,
             len(regexp_extract_all(page, '{_CTRL_CLASS}'))::BIGINT AS ctrl_n,
             ({" + ".join(_seq_count_sql("page", [ord(c) for c in seq], n)
                          for seq, n in MOJIBAKE_SEQS)})::BIGINT AS mojibake_n
      FROM p
    )
    SELECT doc_id, n_chars, repl_n, ctrl_n, mojibake_n,
           (repl_n = 0 AND mojibake_n = 0
            AND ctrl_n * 1000 < n_chars) AS enc_keep
    FROM s
"""


@register("encoding_quality", oracle=_ENC_SQL)
def encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars, repl_n, ctrl_n, mojibake_n, enc_keep): broken-
    decode signals over a deterministically corrupted page (module
    comment) and the integer-exact keep gate."""
    d = read_table(spark, sf_dir, "documents")
    page = _enc_plant_expr(F.col("text"))

    def seq_count(p: Column, seq: str, n: int) -> Column:
        return (
            (F.length(p) - F.length(F.replace(p, F.lit(seq), F.lit(""))))
            / F.lit(n)
        ).cast("long")

    staged = d.select("doc_id", page.alias("page"))
    p = F.col("page")
    counts = [seq_count(p, seq, n) for seq, n in MOJIBAKE_SEQS]
    moji_n = counts[0]
    for c in counts[1:]:
        moji_n = moji_n + c
    s = staged.select(
        "doc_id",
        F.length(p).cast("long").alias("n_chars"),
        (
            F.length(p)
            - F.length(F.replace(p, F.lit(_REPL_CHAR), F.lit("")))
        )
        .cast("long")
        .alias("repl_n"),
        F.size(F.regexp_extract_all(p, F.lit(_CTRL_CLASS), F.lit(0)))
        .cast("long")
        .alias("ctrl_n"),
        moji_n.alias("mojibake_n"),
    )
    return s.select(
        "doc_id",
        "n_chars",
        "repl_n",
        "ctrl_n",
        "mojibake_n",
        (
            (F.col("repl_n") == 0)
            & (F.col("mojibake_n") == 0)
            & (F.col("ctrl_n") * 1000 < F.col("n_chars"))
        ).alias("enc_keep"),
    )
