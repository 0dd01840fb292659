"""Exact substring-span deduplication (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better").

Whole-document dedup (exact / MinHash / simhash in `dedup.py`) misses the
dominant duplication mode in a crawl: long shared *passages* inside
otherwise-distinct pages (boilerplate, quoted articles, licence blocks).
The substring pass finds every word k-gram that occurs more than once in
the corpus — in another document or at another position of the same one —
and reports, per document, the merged token-index spans those duplicated
grams cover, so a downstream writer can cut the spans instead of dropping
the page. The reference's closest analogue is extracting *regions* of a
dataset rather than whole files (/root/reference/isimip_qa/models.py
Region masks, applied per extraction in extractions/*.py); the span
output here is the web-text version of that sub-document granularity.

Scale shape (the plan at 10^12 docs):

- ONE corpus scan; per-token portable hashes are computed once per doc
  (`transform(toks, token_hash)`), each gram key is then a position-
  weighted int64 sum over a k-slice of that array — O(n·k) adds inside
  whole-stage codegen, no UDF. (Production widths — k = 50 in Lee et al.,
  13 for decontamination — move the same fold into the fused numpy kernel;
  the plan shape is unchanged.)
- Gram occurrences shuffle as (gh:int64, t0:short string, doc_id, pos) —
  never document text. Duplicate keys are found with a map-side-combining
  hash aggregate and re-joined as an inner join against the HAVING-filtered
  (unique-key) count table: each occurrence row matches at most one count
  row, so a boilerplate gram with 10^6 occurrences fans out 1:1, never k².
  (A window count would be one exchange cheaper but buffers the whole hot
  gram's occurrence group in a single task — the wrong trade in a crawl.)
- Interval merge is the classic running-max window per doc_id: one
  exchange on doc_id (8 bytes), groups bounded by grams-per-document, and
  the final groupBy(doc_id, grp) reuses the window's partitioning (no
  further exchange).
- The gram table is MATERIALIZED once (localCheckpoint) and read by both
  consumers (count aggregate + join probe): without it the gram subtree
  is evaluated twice — measured 5× slower at sf0.1, since the fold
  dominates. The materialization is (doc_id, pos, gh, t0) ≈ one row per
  corpus token on executor-local storage — the same derived-stream
  materialization Lee et al.'s suffix-array pipeline performs; the
  alternative (recompute both sides) is the right trade only when
  storage, not CPU, is the binding constraint.
- The per-gram fold is UNROLLED to k element_at terms (k is a literal)
  instead of slice+transform+aggregate — no per-gram array allocation,
  stays in whole-stage codegen.

Gram key collisions: the key is (position-weighted sum of 31-bit token
hashes, first token). Both engines compute it identically, so the oracle
match is exact by construction; a cross-gram collision (same weighted sum
AND same first token) is ~2^-45 per pair and would only ever *add* a span
symmetrically in both engines. Production swaps the 31-bit portable token
hash for FNV-1a-64 (functions/fingerprint.py) at ~2^-64 per pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions.fingerprint import token_hash_expr, token_hash_sql
from ..functions.textstats import TOKENS_SQL, tokens_sql
from . import register
from ._util import spread

K_GRAM = 5  # demo width on the short synthetic docs; production 13-50


def _spans_sql(k: int) -> str:
    th = token_hash_sql("x")
    return f"""
    WITH t AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    h AS (
      SELECT doc_id, toks, list_transform(toks, x -> ({th})) AS hs FROM t
    ),
    g AS (
      SELECT doc_id,
             (i - 1)::BIGINT AS pos,
             list_sum(list_transform(list_slice(hs, i, i + {k} - 1),
                                     (x, j) -> j::BIGINT * x))::BIGINT AS gh,
             toks[i] AS t0
      FROM h, UNNEST(range(1, greatest(len(toks) - {k} + 2, 1))) AS u(i)
    ),
    c AS (
      SELECT gh, t0 FROM g GROUP BY gh, t0 HAVING count(*) >= 2
    ),
    d AS (
      SELECT g.doc_id, g.pos, g.pos + {k} - 1 AS e
      FROM g JOIN c USING (gh, t0)
    ),
    m AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1
                  THEN 1 ELSE 0 END AS ns
      FROM d
    ),
    s AS (
      SELECT doc_id, pos, e,
             sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp
      FROM m
    )
    SELECT doc_id,
           min(pos)::BIGINT AS span_start,
           max(e)::BIGINT AS span_end,
           count(*)::BIGINT AS n_dup_grams
    FROM s GROUP BY doc_id, grp
    """


@register("dedup_substring_spans", oracle=_spans_sql(K_GRAM))
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document merged token spans covered by corpus-duplicated k-grams.

    Columns: doc_id, span_start, span_end (inclusive 0-based token
    indices), n_dup_grams (duplicated gram occurrences merged into the
    span). Reference parity: sub-dataset Region granularity
    (/root/reference/isimip_qa/models.py) recast as span dedup — a
    payload operator with no direct reference analogue.
    """
    from functools import reduce

    docs = spread(read_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    hs_col = F.col("hs")

    def gram(i):
        gh = reduce(
            lambda a, b: a + b,
            [
                F.lit(j + 1).cast("long") * F.element_at(hs_col, i + 1 + j)
                for j in range(K_GRAM)
            ],
        )
        return F.struct(
            i.cast("long").alias("pos"),
            gh.alias("gh"),
            F.element_at(F.col("toks"), i + 1).alias("t0"),
        )

    base = docs.select(
        "doc_id",
        F.transform(toks, token_hash_expr).alias("hs"),
        toks.alias("toks"),
        F.size(toks).alias("n"),
    )
    empty = F.array().cast("array<struct<pos:bigint,gh:bigint,t0:string>>")
    gram_arr = F.when(
        F.col("n") >= F.lit(K_GRAM),
        F.transform(F.sequence(F.lit(0), F.col("n") - K_GRAM), gram),
    ).otherwise(empty)

    g = (
        base.select("doc_id", F.explode(gram_arr).alias("g"))
        .select(
            "doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"),
            F.col("g.t0").alias("t0"),
        )
        .localCheckpoint(eager=False)  # materialize once; two consumers
    )
    dup_keys = (
        g.groupBy("gh", "t0")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .drop("cnt")
    )
    d = g.join(dup_keys, ["gh", "t0"]).withColumn(
        "e", F.col("pos") + F.lit(K_GRAM - 1)
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn(
        "ns",
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-2)) + 1, 1).otherwise(0),
    ).withColumn(
        "grp", F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return d.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count(F.lit(1)).alias("n_dup_grams"),
    ).select("doc_id", "span_start", "span_end", "n_dup_grams")


# ---------------------------------------------------------------------------
# Per-doc duplication coverage — the rollup a curator thresholds on
# ("drop docs that are > X% duplicated passage"), composed from the span
# table above + per-doc token counts. Spans are disjoint by construction
# (merged intervals), so coverage = sum of span widths / token count.
# ---------------------------------------------------------------------------


def _coverage_sql(k: int) -> str:
    return f"""
    WITH spans AS ({_spans_sql(k)}),
    cov AS (
      SELECT doc_id,
             sum(span_end - span_start + 1)::BIGINT AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           len({tokens_sql('d.text')})::BIGINT AS n_tokens,
           coalesce(cov.dup_tokens, 0)::BIGINT AS dup_tokens,
           coalesce(cov.dup_tokens, 0)::DOUBLE
             / len({tokens_sql('d.text')}) AS dup_frac
    FROM documents d LEFT JOIN cov USING (doc_id)
    """


@register("doc_dup_coverage", oracle=_coverage_sql(K_GRAM))
def doc_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, dup_frac) for every document. The
    span subtree's per-doc rollup is an 8-byte-keyed agg; the join back to
    the corpus is doc_id-keyed — text never shuffles. dup_frac is one
    IEEE division of exact int64s (bit-identical cross-engine)."""
    docs = read_table(spark, sf_dir, "documents")
    cov = (
        dedup_substring_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("dup_tokens")
        )
    )
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        docs.select("doc_id", n_tok.alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Span cutting — the APPLY face of the span table (Lee et al. 2022 cut the
# duplicated substrings out of the training text rather than dropping the
# page; §4 of the paper). Completes the report→apply pairing the way
# host_boilerplate→strip_boilerplate does for per-host templates.
#
# Scale shape: spans aggregate to one array per doc on an 8-byte key; the
# rebuild joins that array back to the corpus on doc_id — the document
# text crosses exactly ONE exchange (the join), the same floor as any
# corpus rewrite (training_prep contract). The per-token keep test is a
# nested higher-order expression (filter-with-index over exists) — zero
# Python, O(tokens × spans-per-doc) inside codegen, and spans-per-doc is
# bounded by the merged-interval construction.
# ---------------------------------------------------------------------------


def _cut_sql(k: int) -> str:
    return f"""
    WITH spansq AS ({_spans_sql(k)}),
    sp AS (
      SELECT doc_id, list({{'s': span_start, 'e': span_end}}) AS spans
      FROM spansq GROUP BY doc_id
    ),
    j AS (
      SELECT d.doc_id, {tokens_sql('d.text')} AS toks,
             coalesce(sp.spans, []::STRUCT(s BIGINT, e BIGINT)[]) AS spans
      FROM documents d LEFT JOIN sp USING (doc_id)
    ),
    kq AS (
      SELECT doc_id, toks,
             list_filter(toks, (x, i) -> len(list_filter(spans,
               s -> s.s <= i - 1 AND i - 1 <= s.e)) = 0) AS kept
      FROM j
    )
    SELECT doc_id,
           -- DuckDB's array_to_string yields NULL on an empty list where
           -- Spark's array_join yields '' — coalesce to the Spark contract
           coalesce(array_to_string(kept, ' '), '') AS clean_text,
           len(toks)::BIGINT AS n_tokens,
           (len(toks) - len(kept))::BIGINT AS n_cut
    FROM kq
    """


@register("cut_dup_spans", oracle=_cut_sql(K_GRAM))
def cut_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, clean_text, n_tokens, n_cut): every document rebuilt with
    its corpus-duplicated spans removed — the writer-side apply of
    `dedup_substring_spans` (Lee et al. 2022 cut, not drop). Documents
    without spans pass through byte-identical; n_cut equals the span
    table's dup_tokens (asserted in tests/test_cut_spans.py)."""
    docs = read_table(spark, sf_dir, "documents")
    spans = (
        dedup_substring_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            ).alias("spans")
        )
    )
    toks = F.split(F.col("text"), " ")
    j = docs.select("doc_id", toks.alias("toks")).join(spans, "doc_id", "left")
    sps = F.coalesce(
        F.col("spans"), F.array().cast("array<struct<s:long,e:long>>")
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            sps, lambda s: (s["s"] <= i) & (i <= s["e"])
        ),
    )
    return j.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_cut"),
    )
