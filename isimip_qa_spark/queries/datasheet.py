"""Corpus datasheet: the model-card statistics table a training-data
release ships (datasheets-for-datasets practice) — per-(lang, source)
volumes, keep-rate under the production rules, and an exact doc-length
histogram.

The reference's analogue is the assessment summary a QA run prints per
dataset (per-extraction stats CSVs, isimip_qa/extractions/*.py); here the
unit is the corpus partition a data curator reasons about.

Cross-engine exactness: all counts are int64 sums; rates and means are
single IEEE divisions of exact ints; the histogram bucket is
length(bin(n_words)) = floor(log2(n)) + 1 — pure integer arithmetic in
both engines (no ln(), whose rounding near bucket edges is unspecified).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions import textstats as ts
from . import register
from .webtext import _GOPHER_SQL


def _datasheet_sql() -> str:
    return f"""
    WITH lbl AS (SELECT doc_id, keep FROM ({_GOPHER_SQL}) g),
    s AS (
      SELECT d.lang, d.source, l.keep,
             len({ts.TOKENS_SQL})::BIGINT AS n_tokens,
             length(d.text)::BIGINT AS n_chars
      FROM documents d JOIN lbl l ON d.doc_id = l.doc_id
    )
    SELECT lang, source,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens,
           sum(n_chars)::BIGINT AS n_chars,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / count(*) AS keep_rate,
           sum(n_tokens)::DOUBLE / count(*) AS mean_doc_tokens
    FROM s GROUP BY lang, source
    ORDER BY lang, source
"""


@register("corpus_datasheet", _datasheet_sql())
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) datasheet row: doc/token/char volumes, keep-rate
    under the production Gopher rules, mean document length.

    Scale shape: one scan computes the keep label, token count, and char
    count in the same projection (the label is an expression, never a
    join); one hash agg keyed on (lang, source) — cardinality is
    languages × sources, so map-side partials collapse everything. The
    rates are computed FROM the aggregated int64 sums, not re-scanned."""
    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    s = d.select(
        "lang",
        "source",
        ts.keep_expr(text).alias("keep"),
        F.size(ts.tokens_expr(text)).cast("long").alias("n_tokens"),
        F.length(text).cast("long").alias("n_chars"),
    )
    agg = s.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
    )
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_keep",
        (F.col("n_keep").cast("double") / F.col("n_docs")).alias("keep_rate"),
        (F.col("n_tokens").cast("double") / F.col("n_docs")).alias(
            "mean_doc_tokens"
        ),
    ).orderBy("lang", "source")


_DOCLEN_SQL = f"""
    WITH s AS (
      SELECT length(bin(len({ts.TOKENS_SQL})))::BIGINT AS bucket
      FROM documents
    )
    SELECT bucket,
           (1::BIGINT << (bucket - 1)) AS lo_tokens,
           (1::BIGINT << bucket) - 1 AS hi_tokens,
           count(*)::BIGINT AS n_docs
    FROM s GROUP BY bucket ORDER BY bucket
"""


@register("doclen_histogram", _DOCLEN_SQL)
def doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length distribution in power-of-two token buckets
    (bucket b covers [2^(b-1), 2^b - 1] tokens).

    The bucket id is length(bin(n)) = floor(log2(n)) + 1 — exact integer
    arithmetic in both engines; a float log2 would round unpredictably at
    bucket edges. One pruned scan, one tiny (≤ 64-key) hash agg with
    map-side partials; the corpus never shuffles row-wise."""
    d = read_table(spark, sf_dir, "documents")
    n = F.size(ts.tokens_expr(F.col("text"))).cast("long")
    bucket = F.length(F.bin(n)).cast("long")
    return (
        d.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "bucket",
            F.expr("shiftleft(1L, cast(bucket as int) - 1)").alias(
                "lo_tokens"
            ),
            F.expr("shiftleft(1L, cast(bucket as int)) - 1L").alias(
                "hi_tokens"
            ),
            "n_docs",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Vocabulary-growth curve (Heaps' law observability): cumulative distinct
# token types vs cumulative token occurrences at DECILES deterministic
# corpus checkpoints (doc_id order). The number tokenizer/vocab sizing and
# dedup-health monitoring read: types growing ~ occurrences^beta is healthy
# crawl; a flattening curve at constant occ growth means the new data is
# duplicate-heavy.
#
# Scale shape: "distinct types seen by checkpoint k" is computed WITHOUT
# any per-checkpoint rescan — each type contributes one row keyed by its
# FIRST checkpoint (min over an int in [1, DECILES]; map-side combine
# collapses each task's token stream to its distinct types), then a
# ≤DECILES-row running sum. Two token-keyed hash aggs over one scan; the
# window sees DECILES rows, never the corpus.
# ---------------------------------------------------------------------------

DECILES = 10


@register(
    "vocab_growth",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
    ex AS (
      SELECT 1 + (doc_id * {DECILES}) // mx.m AS b,
             unnest({ts.TOKENS_SQL}) AS w
      FROM documents CROSS JOIN mx
    ),
    occ AS (SELECT b, count(*)::BIGINT AS occ FROM ex GROUP BY b),
    tokmin AS (SELECT w, min(b) AS minb FROM ex GROUP BY w),
    nt AS (SELECT minb AS b, count(*)::BIGINT AS new_types
           FROM tokmin GROUP BY minb),
    d AS (SELECT i::BIGINT AS decile FROM unnest(range(1, {DECILES} + 1)) AS u(i))
    SELECT decile,
           CAST(sum(coalesce(occ.occ, 0)) OVER (ORDER BY decile) AS BIGINT)
             AS cum_tokens,
           CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY decile) AS BIGINT)
             AS cum_types
    FROM d LEFT JOIN occ ON occ.b = d.decile LEFT JOIN nt ON nt.b = d.decile
    """,
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(decile, cum_tokens, cum_types): the type/token curve at {DECILES}
    doc_id-order checkpoints."""
    from pyspark.sql.window import Window

    d = read_table(spark, sf_dir, "documents")
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    ex = d.crossJoin(F.broadcast(mx)).select(
        (1 + F.expr(f"(doc_id * {DECILES}) div m")).alias("b"),
        F.explode(ts.tokens_expr(F.col("text"))).alias("w"),
    )
    occ = ex.groupBy("b").agg(F.count("*").alias("occ"))
    nt = (
        ex.groupBy("w")
        .agg(F.min("b").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("new_types"))
    )
    deciles = spark.range(1, DECILES + 1).withColumnRenamed("id", "decile")
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = (
        deciles.join(F.broadcast(occ), deciles.decile == occ.b, "left")
        .drop("b")
        .join(F.broadcast(nt), deciles.decile == nt.b, "left")
        .drop("b")
    )
    return joined.select(
        "decile",
        F.sum(F.coalesce("occ", F.lit(0))).over(w).cast("long").alias("cum_tokens"),
        F.sum(F.coalesce("new_types", F.lit(0)))
        .over(w)
        .cast("long")
        .alias("cum_types"),
    )


# ---------------------------------------------------------------------------
# Cross-source content-overlap matrix: shingle-level Jaccard between every
# source pair — the contamination/provenance datasheet entry ("how much of
# src A already sits in src B") a multi-source training mix needs before
# choosing mixture weights; exact cross-source duplicates are rare, shared
# boilerplate/content is not, so the unit is the 3-gram shingle, not the doc.
#
# Scale shape: ONE corpus-scale exchange total. Rather than distinct
# (source, shingle) + a self-join on the shingle key (two corpus-wide
# exchanges: one for the distinct, one to co-locate the join), group the
# exploded shingles by their 8-byte hash once and collect the per-key
# SOURCE SET — bounded by the catalog dimension (tens of sources), never
# doc-scale, so the map-side partial sets stay tiny no matter how hot the
# shingle. Every (a ≤ b) source pair is then expanded key-locally; the
# diagonal (a, a) counts each key once per member source, so the SAME tiny
# (a, b) aggregate yields both the pairwise intersections and the
# per-source set sizes — Catalyst shares the whole corpus-scale subtree
# between the two consumers via ReusedExchange (the final count over the
# tiny (a, b) exchange is the only duplicated work). The two size lookups
# broadcast. Spark keys on xxhash64 of the shingle (8 bytes, never the
# string) — Jaccard over hash sets equals string-set Jaccard modulo
# ~|shingles|²/2⁶⁴ collisions, and the DuckDB twin (string shingles,
# unnest → DISTINCT → self-join) is collision-exact, so a collision would
# surface as an oracle mismatch (same accepted tolerance as
# dedup_ngram_jaccard).
# ---------------------------------------------------------------------------


def _source_overlap_sql() -> str:
    from ..functions.fingerprint import shingles_sql

    sh = shingles_sql(ts.TOKENS_SQL)
    return f"""
    WITH e AS (SELECT DISTINCT source, s
               FROM (SELECT source, unnest({sh}) AS s FROM documents)),
    sz AS (SELECT source, count(*) AS n FROM e GROUP BY source),
    i AS (SELECT a.source AS source_a, b.source AS source_b,
                 count(*)::BIGINT AS shared
          FROM e a JOIN e b ON a.s = b.s AND a.source < b.source
          GROUP BY 1, 2)
    SELECT source_a, source_b, shared,
           round(shared::DOUBLE / (sa.n + sb.n - shared), 6) AS jaccard
    FROM i JOIN sz sa ON sa.source = i.source_a
           JOIN sz sb ON sb.source = i.source_b
    """


@register("source_overlap", _source_overlap_sql())
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.fingerprint import shingles_expr

    d = read_table(spark, sf_dir, "documents")
    e = d.select(
        "source",
        F.explode(
            F.transform(
                shingles_expr(ts.tokens_expr(F.col("text"))),
                lambda s: F.xxhash64(s),
            )
        ).alias("k"),
    )
    # one exchange on the 8-byte key; collect_set dedups (source, k) pairs
    # both map-side and finally, and its size is catalog-bounded
    by_k = e.groupBy("k").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    # all (a, b) pairs with a <= b from the sorted per-key source set; the
    # diagonal (a, a) makes this one aggregate also count per-source sizes
    srcs = F.col("srcs")
    pairs = F.flatten(
        F.transform(
            srcs,
            lambda a, i: F.transform(
                F.slice(srcs, i + F.lit(1), F.size(srcs) - i),
                lambda b: F.struct(
                    a.alias("source_a"), b.alias("source_b")
                ),
            ),
        )
    )
    res = (
        by_k.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # attach the diagonal sizes with two windows over the TINY (a, b)
    # aggregate (n_sources² rows) — sequential single-lineage plan, so the
    # corpus-scale subtree is computed exactly once (a filter/join split
    # into size + intersection branches would recompute it per branch:
    # exchange reuse does not fire across these lambda-bearing subtrees)
    from pyspark.sql import Window

    diag = F.max(
        F.when(F.col("source_a") == F.col("source_b"), F.col("shared"))
    )
    out = res.withColumn(
        "n_a", diag.over(Window.partitionBy("source_a"))
    ).withColumn("n_b", diag.over(Window.partitionBy("source_b"))).filter(
        F.col("source_a") < F.col("source_b")
    )
    jac = F.col("shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    ).cast("double")
    return out.select(
        "source_a", "source_b", "shared", F.round(jac, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Per-source language-distribution entropy: a source whose pages spread
# uniformly over many languages is usually a machine-translated / spam
# mirror farm, while a legitimate source is dominated by one or two — the
# standard composition-drift flag on a crawl datasheet. Two tiny hash aggs
# ((source, lang) counts, then per-source fold); the corpus crosses one
# map-side-combining exchange keyed on the low-cardinality (source, lang)
# pair. H = log2(n) − Σ c·log2 c / n over per-language doc counts; the flag
# compares the ROUNDED entropy on both engines (same discipline as
# word_entropy).
# ---------------------------------------------------------------------------

MIXED_LANG_MIN = 1.5  # bits; >= this many effective languages flags a source

_SOURCE_LANG_SQL = f"""
    WITH c AS (SELECT source, lang, count(*)::BIGINT AS cnt
               FROM documents GROUP BY 1, 2),
    a AS (SELECT source, sum(cnt)::DOUBLE AS n,
                 count(*)::BIGINT AS n_langs,
                 sum(cnt * log2(cnt::DOUBLE)) AS s
          FROM c GROUP BY source)
    SELECT source, n::BIGINT AS n_docs, n_langs,
           round(log2(n) - s / n, 6) AS lang_entropy,
           round(log2(n) - s / n, 6) >= {MIXED_LANG_MIN} AS mixed_lang
    FROM a
    """


@register("source_lang_entropy", _SOURCE_LANG_SQL)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    cd = F.col("cnt").cast("double")
    a = c.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(cd * F.log2(cd)).alias("s"),
    )
    n = F.col("n_docs").cast("double")
    h = F.round(F.log2(n) - F.col("s") / n, 6)
    return a.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        h.alias("lang_entropy"),
        (h >= F.lit(MIXED_LANG_MIN)).alias("mixed_lang"),
    )


# ---------------------------------------------------------------------------
# Zipf-slope fit + top-k vocabulary coverage: the two token-frequency-
# spectrum entries on a crawl datasheet. A healthy natural-language crawl
# has log-frequency ≈ slope · log-rank + intercept with slope ≈ −1 over the
# head of the vocabulary; machine-generated or template spam bends the
# curve, so the fitted slope/R² is a cheap corpus-level anomaly flag
# (complement of the per-source entropy flags above). Coverage@k (what
# fraction of all token occurrences the k most frequent types explain)
# is the standard tokenizer-budget planning stat.
#
# Scale shape: ONE corpus-scale exchange (token counts, map-side combined,
# vocab-sized output); the head extraction is orderBy(...).limit(V) —
# Spark's TakeOrderedAndProject, a per-partition partial top-V merged on
# the driver, NEVER a global sort of the vocabulary; the fit/coverage then
# run on ≤ V rows (single tiny task). vocab_coverage's total-token count
# is sum(cnt) over the SAME counts aggregate (ReusedExchange shares the
# corpus-scale exchange; asserted). The fit regresses ln(cnt) on
# ln(rank) with both engines rounding to 6 decimals (the established
# cross-engine float discipline; regr_* aggregates agree to ~1e-12 on
# ≤ V points).
# ---------------------------------------------------------------------------

V_FIT = 1000  # fit/coverage head width: Zipf holds in the head, and the
COVERAGE_KS = (10, 100, 1000)  # tail flattens into hapax noise


_ZIPF_SQL = f"""
    WITH c AS (SELECT w, count(*)::BIGINT AS cnt
               FROM (SELECT unnest({ts.TOKENS_SQL}) AS w FROM documents)
               GROUP BY w),
    t AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
          FROM c ORDER BY cnt DESC, w LIMIT {V_FIT})
    SELECT round(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rnk)), 6) AS zipf_intercept,
           round(regr_r2(ln(cnt), ln(rnk)), 6) AS r2,
           count(*)::BIGINT AS n_fit
    FROM t
    """


def token_counts(d: DataFrame) -> DataFrame:
    """(w, cnt) unigram counts over a documents-shaped frame — THE corpus
    count block (zipf/coverage head cuts, the streaming drift monitor's
    reference model and per-batch counts all derive from this one shape)."""
    return (
        d.select(F.explode(ts.tokens_expr(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(read_table(spark, sf_dir, "documents"))


def _ranked_head(spark: SparkSession, sf_dir: str, v: int) -> DataFrame:
    from pyspark.sql.window import Window

    top = _token_counts(spark, sf_dir).orderBy(
        F.col("cnt").desc(), "w"
    ).limit(v)
    return top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("cnt").desc(), "w"))
    )


@register("zipf_fit", _ZIPF_SQL)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: OLS fit of ln(count) on ln(rank) over the top-V_FIT token
    types (slope, intercept, R², points fitted)."""
    ranked = _ranked_head(spark, sf_dir, V_FIT)
    ly = F.log(F.col("cnt").cast("double"))
    lx = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(ly, lx), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ly, lx), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(ly, lx), 6).alias("r2"),
        F.count(F.lit(1)).cast("long").alias("n_fit"),
    )


_COV_SQL = f"""
    WITH c AS (SELECT w, count(*)::BIGINT AS cnt
               FROM (SELECT unnest({ts.TOKENS_SQL}) AS w FROM documents)
               GROUP BY w),
    t AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
          FROM c ORDER BY cnt DESC, w LIMIT {max(COVERAGE_KS)}),
    cum AS (SELECT rnk, sum(cnt) OVER (ORDER BY rnk) AS cum FROM t),
    tot AS (SELECT sum(cnt)::DOUBLE AS total FROM c)
    SELECT rnk AS k, CAST(cum AS BIGINT) AS cum_tokens,
           round(cum / total, 6) AS coverage
    FROM cum, tot WHERE rnk IN {COVERAGE_KS}
    ORDER BY k
    """


@register("vocab_coverage", _COV_SQL)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, cum_tokens, coverage) at k in COVERAGE_KS: the fraction of all
    token occurrences explained by the k most frequent types."""
    from pyspark.sql.window import Window

    ranked = _ranked_head(spark, sf_dir, max(COVERAGE_KS))
    cum = ranked.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("rnk").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    # the corpus-wide occurrence total is exactly sum(cnt) over the SAME
    # token-counts aggregate the head cut consumes — Catalyst shares the
    # one corpus-scale exchange between the two consumers (no lambda-
    # bearing expressions sit under it, so ReusedExchange fires), instead
    # of paying a second corpus scan
    total = _token_counts(spark, sf_dir).agg(
        F.sum("cnt").cast("double").alias("total")
    )
    return (
        cum.filter(F.col("rnk").isin(list(COVERAGE_KS)))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rnk").cast("long").alias("k"),
            F.col("cum").cast("long").alias("cum_tokens"),
            F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Per-source unigram divergence: Jensen–Shannon divergence (bits) between
# each source's token distribution and the CORPUS distribution, plus the
# fraction of the corpus vocabulary the source has seen — the composition-
# drift number a datasheet pairs with `source_lang_entropy` (entropy says
# "this source is internally mixed"; JS-vs-corpus says "this source is
# unlike everything else" — a mirror farm scores low entropy but high
# divergence). DSIR's dsir_kl is target-vs-raw over hashed buckets; this
# is per-source over the real vocabulary.
#
# Scale shape: one corpus-scale exchange — (source, token) counts with
# map-side combine; everything downstream is vocab-sized (per-token totals,
# the vocab × n_sources grid) or catalog-sized (per-source totals, both
# broadcast). The grid↔counts left join re-uses the counts' own
# (source, w) hash partitioning, and AQE deduplicates the shared counts
# subtree across its consumers (ReusedExchange asserted post-execution).
# Determinism: each per-token JS contribution is quantized to the 1/QD
# dyadic grid before the per-source sum (the graph.py / lm.py discipline),
# so the sum is addition-order-independent and engine-exact.
# ---------------------------------------------------------------------------

QD = 1 << 20  # dyadic grid for per-token JS contributions


_DIVERGENCE_SQL = f"""
    WITH c AS (SELECT source, w, count(*)::BIGINT AS csw
               FROM (SELECT source, unnest({ts.TOKENS_SQL}) AS w
                     FROM documents)
               GROUP BY 1, 2),
    tot AS (SELECT w, sum(csw)::BIGINT AS cw FROM c GROUP BY w),
    ns AS (SELECT source, sum(csw)::BIGINT AS n_s,
                  count(*)::BIGINT AS vocab_seen
           FROM c GROUP BY source),
    nt AS (SELECT sum(cw)::BIGINT AS n_tot, count(*)::BIGINT AS vocab_total
           FROM tot),
    grid AS (
      SELECT ns.source, ns.n_s, ns.vocab_seen, nt.n_tot, nt.vocab_total,
             tot.cw, coalesce(c.csw, 0) AS csw
      FROM tot CROSS JOIN ns CROSS JOIN nt
      LEFT JOIN c ON c.source = ns.source AND c.w = tot.w
    ),
    terms AS (
      SELECT source, n_s, vocab_seen, vocab_total,
             round((
               CASE WHEN csw > 0 THEN
                 0.5 * (csw::DOUBLE / n_s)
                     * log2((csw::DOUBLE / n_s)
                            / ((csw::DOUBLE / n_s + cw::DOUBLE / n_tot) / 2))
               ELSE 0.0 END
               + 0.5 * (cw::DOUBLE / n_tot)
                     * log2((cw::DOUBLE / n_tot)
                            / ((csw::DOUBLE / n_s + cw::DOUBLE / n_tot) / 2))
             ) * {QD}) / {QD} AS t
      FROM grid
    )
    SELECT source,
           max(n_s) AS n_tokens,
           max(vocab_seen) AS vocab_seen,
           max(vocab_total) AS vocab_total,
           round(max(vocab_seen)::DOUBLE / max(vocab_total), 6) AS vocab_frac,
           round(sum(t), 6) AS js_div
    FROM terms GROUP BY source ORDER BY source
    """


@register("source_divergence", _DIVERGENCE_SQL)
def source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, vocab_seen, vocab_total, vocab_frac, js_div):
    per-source JS divergence (bits) vs the corpus unigram distribution."""
    d = read_table(spark, sf_dir, "documents")
    c = (
        d.select(
            "source", F.explode(ts.tokens_expr(F.col("text"))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("csw"))
    )
    tot = c.groupBy("w").agg(F.sum("csw").alias("cw"))
    ns = c.groupBy("source").agg(
        F.sum("csw").alias("n_s"), F.count(F.lit(1)).alias("vocab_seen")
    )
    nt = tot.agg(
        F.sum("cw").alias("n_tot"), F.count(F.lit(1)).alias("vocab_total")
    )
    grid = (
        tot.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nt))
        .join(c, ["source", "w"], "left")
    )
    ps = F.coalesce(F.col("csw"), F.lit(0)).cast("double") / F.col("n_s")
    qw = F.col("cw").cast("double") / F.col("n_tot")
    m = (ps + qw) / 2
    contrib = (
        F.when(
            F.coalesce(F.col("csw"), F.lit(0)) > 0,
            0.5 * ps * F.log2(ps / m),
        ).otherwise(F.lit(0.0))
        + 0.5 * qw * F.log2(qw / m)
    )
    t = F.round(contrib * QD) / QD
    return (
        grid.select("source", "n_s", "vocab_seen", "vocab_total", t.alias("t"))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.max("vocab_seen").alias("vocab_seen"),
            F.max("vocab_total").alias("vocab_total"),
            F.round(F.sum("t"), 6).alias("js_div"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab_seen",
            "vocab_total",
            F.round(
                F.col("vocab_seen").cast("double") / F.col("vocab_total"), 6
            ).alias("vocab_frac"),
            "js_div",
        )
        .orderBy("source")
    )
