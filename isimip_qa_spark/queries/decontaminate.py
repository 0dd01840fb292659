"""Benchmark decontamination over `documents`.

Training-data pipelines must drop (or at least flag) training documents that
overlap an evaluation benchmark, or downstream eval scores are contaminated.
The standard check (GPT-3 appendix C / PaLM §C) is word-n-gram collision
with n around 13: a training doc is contaminated if it shares at least one
13-gram with any benchmark doc.

Here the "benchmark" set is carved deterministically out of the corpus
itself (doc_id % EVAL_MOD == 0) so the check is self-contained and
oracle-able; in production the eval side is an external benchmark table.

Scale shape (the 100-TB case):
- The eval side is SMALL by construction (benchmarks are MBs, not TBs):
  its distinct n-gram set is broadcast — the training side is never
  shuffled for the join (BroadcastHashJoin, asserted in
  tests/test_decontaminate.py).
- Training-side n-grams are generated inside the map stage (explode over a
  projected 2-column scan) and die there: only the matched rows — bounded
  by |eval n-grams| × duplication, tiny — reach the final groupBy(doc_id)
  exchange.
- At real scale the broadcast set would carry 8-byte xxhash64 keys instead
  of n-gram strings (~6× smaller); strings are joined here so the DuckDB
  twin is collision-exact. Swapping the join key for a hash + string
  verify on match is a local change with the same plan shape.

Reference anchor: the reference has no decontamination (it is a climate-QA
tool); this operator comes from the training-data-pipeline mandate
(SURVEY.md §2.9 extension set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions import textstats as ts
from ..functions.fingerprint import (
    rolling_fingerprint_expr,
    rolling_fingerprint_sql,
    shingles_expr,
    shingles_sql,
)
from . import register

K = 13  # n-gram width (GPT-3's decontamination width)
EVAL_MOD = 10  # doc_id % EVAL_MOD == 0 → benchmark side


def ngrams_sql(tokens_sql: str, k: int) -> str:
    """DuckDB twin of `shingles_expr(tokens, k)` for arbitrary k: 1-based
    inclusive list slice, clamped at the tail exactly like F.slice."""
    t = tokens_sql
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({t}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string({t}[i:i+{k - 1}], ' ')))"
    )


_NG = ngrams_sql(ts.TOKENS_SQL, K)

_DECON_SQL = f"""
    WITH grams AS (
      SELECT doc_id, unnest({_NG}) AS ng FROM documents
    ),
    ev AS (SELECT DISTINCT ng FROM grams WHERE doc_id % {EVAL_MOD} = 0),
    tr AS (SELECT doc_id, ng FROM grams WHERE doc_id % {EVAL_MOD} <> 0)
    SELECT tr.doc_id AS doc_id, count(*) AS n_hits
    FROM tr JOIN ev USING (ng)
    GROUP BY tr.doc_id
    ORDER BY doc_id
"""


@register("decontaminate", _DECON_SQL)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated training docs: (doc_id, n_hits) where n_hits is the
    number of distinct word-13-grams shared with the benchmark set."""
    grams = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(shingles_expr(ts.tokens_expr(F.col("text")), k=K)).alias(
                "ng"
            ),
        )
    )
    ev = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0).select("ng").distinct()
    )
    tr = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    return (
        tr.join(F.broadcast(ev), "ng")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Split-leakage audit: n-gram contamination across the REAL train/holdout
# boundary produced by stratified_split (queries/mixing.py).
# ---------------------------------------------------------------------------

# the REAL split constants, imported so the audited boundary can never
# drift from the boundary stratified_split actually assigns
from .mixing import SPLIT_BUCKETS, TRAIN_BUCKETS, VALID_BUCKETS  # noqa: E402

_LEAK_SQL = f"""
    WITH b AS (
      SELECT doc_id,
             ((fp % {SPLIT_BUCKETS}) + {SPLIT_BUCKETS}) % {SPLIT_BUCKETS}
               AS bucket,
             text
      FROM (SELECT doc_id, text,
                   {rolling_fingerprint_sql(ts.TOKENS_SQL)} AS fp
            FROM documents)
    ),
    grams AS (SELECT doc_id, bucket, unnest({_NG}) AS ng FROM b),
    hg AS (SELECT doc_id, bucket, ng FROM grams
           WHERE bucket >= {TRAIN_BUCKETS}),
    tmatched AS (
      SELECT DISTINCT ng FROM grams
      WHERE bucket < {TRAIN_BUCKETS} AND ng IN (SELECT ng FROM hg)
    )
    SELECT hg.doc_id AS doc_id,
           CASE WHEN hg.bucket < {VALID_BUCKETS} THEN 'valid'
                ELSE 'test' END AS split,
           count(*)::BIGINT AS n_leaked
    FROM hg JOIN tmatched USING (ng)
    GROUP BY hg.doc_id, hg.bucket
    ORDER BY doc_id
"""


@register("split_leakage", _LEAK_SQL)
def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split, n_leaked): for every holdout (valid/test) document,
    how many of its distinct word-13-grams also occur in some TRAIN
    document — the contamination audit for the split `stratified_split`
    actually ships.

    stratified_split's fingerprint bucketing makes exact-duplicate leakage
    impossible by construction (identical text → identical bucket), so what
    this measures is the residual channel: near-duplicates and shared
    boilerplate that differ enough to fingerprint apart but still share
    13-grams. n_leaked > 0 does not mean "remove the doc" — it is the
    per-doc severity the curation pass thresholds on (the same role
    `decontaminate`'s n_hits plays for external benchmarks).

    Scale shape (100 TB): the holdout is 4% of the corpus by construction
    and benchmark-sized in practice. Train-side grams are generated in the
    map stage and immediately filtered by a BROADCAST of the distinct
    holdout grams — the train side never shuffles (asserted in
    tests/test_decontaminate.py); only matched grams (≤ |holdout grams|)
    reach the distinct, and the final per-doc count joins two
    holdout-bounded sides. Same hash-key upgrade path as `decontaminate`:
    at production scale the broadcast carries xxhash64(ng), strings here
    keep the DuckDB twin collision-exact."""
    d = read_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        rolling_fingerprint_expr(ts.tokens_expr(F.col("text"))),
        F.lit(SPLIT_BUCKETS),
    )
    grams = d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.explode(shingles_expr(ts.tokens_expr(F.col("text")), k=K)).alias(
            "ng"
        ),
    )
    hg = grams.filter(F.col("bucket") >= TRAIN_BUCKETS)
    hng = hg.select("ng").distinct()
    tmatched = (
        grams.filter(F.col("bucket") < TRAIN_BUCKETS)
        .join(F.broadcast(hng), "ng")
        .select("ng")
        .distinct()
    )
    return (
        hg.join(F.broadcast(tmatched), "ng")
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n_leaked"))
        .select(
            "doc_id",
            F.when(F.col("bucket") < VALID_BUCKETS, "valid")
            .otherwise("test")
            .alias("split"),
            "n_leaked",
        )
    )


# --- fuzzy (near-dup) decontamination ------------------------------------

FUZZY_THRESHOLD = 0.5  # same Jaccard grade as the dedup family

_FUZZY_SQL = f"""
WITH d AS (
  SELECT doc_id, {shingles_sql(ts.TOKENS_SQL)} AS sh,
         doc_id % {EVAL_MOD} = 0 AS is_eval
  FROM documents
),
p AS (
  SELECT t.doc_id AS doc_id, e.doc_id AS eval_id,
         len(list_intersect(t.sh, e.sh))::DOUBLE
           / len(list_distinct(list_concat(t.sh, e.sh))) AS jaccard
  FROM d t JOIN d e ON NOT t.is_eval AND e.is_eval
)
SELECT doc_id, eval_id, round(jaccard, 6) AS jaccard
FROM p WHERE jaccard >= {FUZZY_THRESHOLD}
"""


@register("decontaminate_fuzzy", _FUZZY_SQL)
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate contamination: training docs whose word-3-shingle
    Jaccard against ANY benchmark doc reaches FUZZY_THRESHOLD — the fuzzy
    complement of `decontaminate`'s exact 13-gram collision (a lightly
    paraphrased or truncated benchmark page shares most shingles but can
    dodge every verbatim 13-gram).

    Scale shape (100 TB): the benchmark side is SMALL by construction, so
    its MinHash band keys AND its distinct shingle-hash sets both
    broadcast. The training side streams through the scan once: band keys
    from the vectorized numpy kernel (functions/fingerprint.py), candidates
    from a BroadcastHashJoin on the int64 band key (the train side never
    shuffles on it), and only candidate rows — bounded by the contamination
    rate times band multiplicity, then `.distinct()` — reach the exact
    shingle-set verify. No self-join anywhere, so mass-duplicate training
    clusters fan out linearly (k candidates), never k².

    Recall contract: a contaminated pair is surfaced iff it shares ≥ 1 of
    the 16 LSH bands — the identical contract `dedup_minhash_lsh` holds
    against the same O(n²) ground-truth oracle (P(miss) = (1−J⁴)¹⁶; the
    sf0.01 gate proves the fixtures sit inside it). Verification Jaccard is
    computed over xxhash64(shingle) sets (8-byte arrays, never strings) —
    collision tolerance ~|shingles|²/2⁶⁴, checked by the string-exact
    oracle."""
    from ..functions.fingerprint import minhash_bands_udf

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    sh64 = F.array_sort(
        F.array_distinct(
            F.transform(
                shingles_expr(ts.tokens_expr(F.col("text"))),
                lambda s: F.xxhash64(s),
            )
        )
    )
    sig = d.select(
        "doc_id",
        is_eval.alias("is_eval"),
        F.explode(minhash_bands_udf(F.col("text"))).alias("k"),
    )
    cands = (
        sig.filter(~F.col("is_eval"))
        .select("doc_id", "k")
        .join(
            F.broadcast(
                sig.filter(F.col("is_eval")).select(
                    F.col("doc_id").alias("eval_id"), "k"
                )
            ),
            "k",
        )
        .select("doc_id", "eval_id")
        .distinct()
    )
    tsh = d.filter(~is_eval).select("doc_id", sh64.alias("sh_t"))
    esh = d.filter(is_eval).select(F.col("doc_id").alias("eval_id"), sh64.alias("sh_e"))
    joined = cands.join(tsh, "doc_id").join(F.broadcast(esh), "eval_id")
    inter = F.size(F.array_intersect("sh_t", "sh_e")).cast("double")
    union = (F.size("sh_t") + F.size("sh_e")).cast("double") - inter
    jac = inter / union
    return joined.filter(jac >= FUZZY_THRESHOLD).select(
        "doc_id", "eval_id", F.round(jac, 6).alias("jaccard")
    )
