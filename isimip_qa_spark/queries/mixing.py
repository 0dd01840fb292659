"""Training-data mixing operators over `documents`: deterministic sampling
and token-budgeted selection — the dataset-composition stage that follows
quality filtering and dedup in a web-scale pipeline (the reference's
extraction→assessment chain ends in per-scope summaries; a training
pipeline ends in a *selected subset*, so these are first-class here).

Scale notes:
- deterministic_sample: pure column exprs, no shuffle at all — the sample
  predicate pushes into the scan stage, and reruns are reproducible without
  any seed state (`rand()` is banned: it is neither repeatable across
  retried tasks nor oracle-comparable). The bucket hash is the same exact
  int64 rolling fingerprint both engines compute (functions/fingerprint.py),
  so a doc's sample membership is a pure function of its text.
- token_budget_per_source: ONE exchange keyed on (8-byte) source hash; the
  running total is a window ordered by (quality desc, doc_id) — a per-group
  sort is inherent to exact budget filling. At crawl scale the group key is
  the url host: bounded per-group row counts (a host's docs fit a task),
  with the hot-host salting of plans/skew.py for the
  few degenerate hosts; an approximate two-pass variant (quality-threshold
  binary search, no per-group sort) is the relaxation if a group ever
  exceeds task memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions import textstats as ts
from ..functions.fingerprint import (
    rolling_fingerprint_expr,
    rolling_fingerprint_sql,
)
from . import register
from .webtext import QUALITY_SQL, quality_expr

SAMPLE_BUCKETS = 1000
SAMPLE_KEEP = 100  # 10% sample
TOKEN_BUDGET = 600  # per-source whitespace-token budget
REBALANCE_SCALE = 4  # lang_rebalance: keep ~SCALE*sqrt(n_l) docs per lang


@register(
    "deterministic_sample",
    oracle=f"""
    SELECT doc_id, bucket
    FROM (
      SELECT doc_id,
             (({rolling_fingerprint_sql(ts.TOKENS_SQL)} % {SAMPLE_BUCKETS})
              + {SAMPLE_BUCKETS}) % {SAMPLE_BUCKETS} AS bucket
      FROM documents
    )
    WHERE bucket < {SAMPLE_KEEP}
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket sample: keep docs whose content-fingerprint bucket falls
    below the keep threshold. Reproducible, seedless, shuffle-free."""
    d = read_table(spark, sf_dir, "documents")
    fp = rolling_fingerprint_expr(ts.tokens_expr(F.col("text")))
    return (
        d.select("doc_id", F.pmod(fp, F.lit(SAMPLE_BUCKETS)).alias("bucket"))
        .filter(F.col("bucket") < SAMPLE_KEEP)
    )


@register(
    "token_budget_per_source",
    oracle=f"""
    SELECT doc_id, source, ws_tokens, cum_tokens
    FROM (
      SELECT doc_id, source, ws_tokens,
             sum(ws_tokens) OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM (
        SELECT doc_id, source,
               len({ts.TOKENS_SQL})::BIGINT AS ws_tokens,
               {QUALITY_SQL} AS quality
        FROM documents
      )
    )
    WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
)
def token_budget_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked budget fill: per source, take docs in descending
    quality order until the cumulative whitespace-token count would exceed
    the budget. The canonical data-mixing primitive ("N tokens per domain,
    best first")."""
    d = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    scored = d.select(
        "doc_id",
        "source",
        ts.n_words_expr(text).alias("ws_tokens"),
        quality_expr(text).alias("quality"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("ws_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "source", "ws_tokens", "cum_tokens")
    )


@register(
    "lang_rebalance",
    oracle=f"""
    WITH counts AS (
      SELECT lang, count(*)::BIGINT AS n_l,
             least(count(*)::BIGINT,
                   {REBALANCE_SCALE} * floor(sqrt(count(*)))::BIGINT) AS keep_n
      FROM documents GROUP BY lang
    ),
    bucketed AS (
      SELECT doc_id, lang,
             (({rolling_fingerprint_sql(ts.TOKENS_SQL)} % {SAMPLE_BUCKETS})
              + {SAMPLE_BUCKETS}) % {SAMPLE_BUCKETS} AS bucket
      FROM documents
    )
    SELECT doc_id, b.lang, bucket
    FROM bucketed b JOIN counts c ON b.lang = c.lang
    WHERE bucket * c.n_l < c.keep_n * {SAMPLE_BUCKETS}
    ORDER BY doc_id
    """,
)
def lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature rebalancing by deterministic downsampling: each language
    keeps ~SCALE*sqrt(n_l) docs (head languages downsampled hardest — the
    alpha=0.5 temperature schedule), selected by the same seedless
    content-fingerprint buckets as deterministic_sample.

    The keep predicate is the integer cross-multiplication
    `bucket * n_l < keep_n * BUCKETS` — exact in int64 on both engines, no
    float rate anywhere (floor(sqrt(int)) is the one float op; IEEE sqrt is
    correctly rounded in both engines so the floor is engine-exact). Scale
    shape: one hash-agg for the 5-row counts dim, broadcast back; the corpus
    crosses no exchange — the filter stays in the scan stage."""
    d = read_table(spark, sf_dir, "documents")
    counts = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_l"))
        .select(
            "lang",
            "n_l",
            F.least(
                F.col("n_l"),
                F.lit(REBALANCE_SCALE)
                * F.floor(F.sqrt(F.col("n_l"))).cast("long"),
            ).alias("keep_n"),
        )
    )
    fp = rolling_fingerprint_expr(ts.tokens_expr(F.col("text")))
    bucketed = d.select(
        "doc_id", "lang", F.pmod(fp, F.lit(SAMPLE_BUCKETS)).alias("bucket")
    )
    return (
        bucketed.join(F.broadcast(counts), "lang")
        .filter(
            F.col("bucket") * F.col("n_l")
            < F.col("keep_n") * F.lit(SAMPLE_BUCKETS)
        )
        .select("doc_id", "lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Training-set assembly: deterministic global shuffle, stratified split,
# per-host quota. The three selection ops between curation and packing.
# ---------------------------------------------------------------------------

N_SHARDS = 16  # test-scale; at 10^12 docs this is O(corpus/shard_size)
SPLIT_BUCKETS = 100  # train/valid/test = <TRAIN / <VALID / rest
TRAIN_BUCKETS = 96  # bucket < 96 -> train   (imported by the
VALID_BUCKETS = 98  # bucket < 98 -> valid    split-leakage audit,
#                     else        -> test     queries/decontaminate.py)
HOST_QUOTA = 5  # max docs kept per source at test scale


@register(
    "shard_shuffle",
    oracle=f"""
    SELECT doc_id, shard_id, pos FROM (
      SELECT doc_id, shard_id,
             row_number() OVER (PARTITION BY shard_id ORDER BY fp, doc_id)
               AS pos
      FROM (
        SELECT doc_id,
               {rolling_fingerprint_sql(ts.TOKENS_SQL)} AS fp,
               (({rolling_fingerprint_sql(ts.TOKENS_SQL)} % {N_SHARDS})
                + {N_SHARDS}) % {N_SHARDS} AS shard_id
        FROM documents
      )
    )
    """,
)
def shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: every doc gets a content-fingerprint
    key; shard = key mod N, position = rank of (key, doc_id) within the
    shard. The training-data randomisation step, with none of `rand()`'s
    retry/rerun nondeterminism — the permutation is a pure function of the
    corpus.

    Scale shape: ONE exchange keyed on the 8-byte shard id, then each task
    sorts only its own shard (Window partitioned BY shard_id — never a
    global order). Shard sizes are ~n/N ± Poisson noise because the
    fingerprint is uniform, so no shard skews; at 10^12 docs pick N so a
    shard fits a task (the same sizing rule as shuffle partitions)."""
    d = read_table(spark, sf_dir, "documents")
    fp = rolling_fingerprint_expr(ts.tokens_expr(F.col("text")))
    keyed = d.select(
        "doc_id",
        fp.alias("fp"),
        F.pmod(fp, F.lit(N_SHARDS)).alias("shard_id"),
    )
    w = Window.partitionBy("shard_id").orderBy("fp", "doc_id")
    return keyed.select(
        "doc_id", "shard_id", F.row_number().over(w).alias("pos")
    )


@register(
    "stratified_split",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN bucket < {TRAIN_BUCKETS} THEN 'train'
                WHEN bucket < {VALID_BUCKETS} THEN 'valid'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, lang,
             (({rolling_fingerprint_sql(ts.TOKENS_SQL)} % {SPLIT_BUCKETS})
              + {SPLIT_BUCKETS}) % {SPLIT_BUCKETS} AS bucket
      FROM documents
    )
    """,
)
def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment (96/2/2) from the content
    fingerprint: membership is a pure function of the text, so recrawled or
    re-ingested copies of a document land in the same split — the property
    that prevents silent train/test leakage across dataset versions.
    Stratification is inherent: the fingerprint is independent of `lang`,
    so each language splits ~96/2/2 without per-lang bookkeeping. Zero
    shuffle; the predicate stays in the scan stage."""
    d = read_table(spark, sf_dir, "documents")
    fp = rolling_fingerprint_expr(ts.tokens_expr(F.col("text")))
    bucket = F.pmod(fp, F.lit(SPLIT_BUCKETS))
    return d.select(
        "doc_id",
        "lang",
        F.when(bucket < TRAIN_BUCKETS, F.lit("train"))
        .when(bucket < VALID_BUCKETS, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "host_quota_sample",
    oracle=f"""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
             ) AS rk
      FROM (
        SELECT doc_id, source, {QUALITY_SQL} AS quality FROM documents
      )
    )
    WHERE rk <= {HOST_QUOTA}
    """,
)
def host_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap: keep the top-QUOTA docs per source by quality
    (ties broken by doc_id) — the domain-diversity guard that stops a
    single boilerplate-heavy host from dominating the corpus.

    Scale shape: one exchange keyed on source; rank is a window per source.
    Hosts are Zipfian, so the hot-host discipline applies: the measured
    salting of plans/skew.py bounds the skew, and because row_number
    only needs the per-host top QUOTA, a pre-aggregation that keeps each
    map partition's local top-QUOTA before the exchange caps the shuffle at
    QUOTA × partitions rows per host — at crawl scale enable it by feeding
    this query through the same local top-k pattern as topk_per_group."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", quality_expr(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        scored.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= HOST_QUOTA)
    )


# ---------------------------------------------------------------------------
# Shard manifest — the integrity/reproducibility record shipped WITH the
# training shards: per shard, the doc count, token volume, and an
# order-independent content checksum (bit_xor of the per-doc content
# fingerprints — exact int64 in both engines, so the manifest a consumer
# recomputes after transfer must match bit-for-bit). The reference's
# analogue is its artifact-store config-hash guard
# (isimip_qa/mixins/extractions.py skip/fetch decisions); here the guard
# covers the DATA, not just the config. One scan, one N_SHARDS-key hash
# agg with map-side combine; bit_xor cannot overflow (the reason it is
# the checksum aggregate — a sum of int64 fingerprints would, loudly,
# under ANSI mode).
# ---------------------------------------------------------------------------


@register(
    "shard_manifest",
    oracle=f"""
    WITH s AS (
      SELECT (({rolling_fingerprint_sql(ts.TOKENS_SQL)} % {N_SHARDS})
              + {N_SHARDS}) % {N_SHARDS} AS shard_id,
             {rolling_fingerprint_sql(ts.TOKENS_SQL)} AS fp,
             len({ts.TOKENS_SQL})::BIGINT AS n_tokens
      FROM documents
    )
    SELECT shard_id,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens,
           bit_xor(fp)::BIGINT AS checksum
    FROM s GROUP BY shard_id
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    fp = rolling_fingerprint_expr(ts.tokens_expr(F.col("text")))
    shard = ((fp % N_SHARDS) + N_SHARDS) % N_SHARDS
    return (
        d.select(
            shard.alias("shard_id"),
            fp.alias("fp"),
            ts.n_words_expr(F.col("text")).alias("n_tokens"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.expr("bit_xor(fp)").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture weights (the XLM-R / mBERT alpha-sampling rule,
# Conneau et al. 2020 §3.1): source i with token share p_i is sampled with
# probability q_i ∝ p_i^alpha — alpha < 1 upweights the tail so head
# domains don't drown everything. This is the number the trainer's sampler
# actually consumes; `domain_diversity` (selection.py) reports whether it's
# needed, this computes it.
#
# Scale shape: one hash agg keyed on source (map-side combine ⇒ the
# exchange carries one row per source per task), a 1-row broadcast total,
# and the final arithmetic over the |sources| table. Determinism: p_i is a
# single IEEE division of exact int64 sums; p_i^alpha (libm pow) is
# quantized to the 1/2^20 dyadic grid BEFORE the normalising sum, so the
# denominator is order-independent and q_i is a single exact division —
# same recipe as the LM logprobs (queries/lm.py).
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.3  # Conneau et al. 2020's low-resource-friendly setting
MIX_Q = 1 << 20


@register(
    "domain_mix_weights",
    oracle=f"""
    WITH s AS (
      SELECT source,
             count(*)::BIGINT AS n_docs,
             sum(len({ts.TOKENS_SQL}))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens)::BIGINT AS t FROM s),
    p AS (
      SELECT source, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / tot.t AS p,
             round(pow(CAST(n_tokens AS DOUBLE) / tot.t, {MIX_ALPHA})
                   * {MIX_Q}) / {MIX_Q} AS pa
      FROM s CROSS JOIN tot
    ),
    z AS (SELECT sum(pa) AS z FROM p)
    SELECT source, n_docs, n_tokens,
           round(p, 6) AS token_share,
           round(pa / z.z, 6) AS mix_weight
    FROM p CROSS JOIN z
    """,
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, token_share, mix_weight): alpha-tempered
    sampling weights per source; mix_weight sums to 1."""
    d = read_table(spark, sf_dir, "documents")
    s = (
        d.select("source", ts.n_words_expr(F.col("text")).alias("nt"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )
    tot = s.agg(F.sum("n_tokens").alias("t"))
    p = F.col("n_tokens").cast("double") / F.col("t")
    pdf = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        p.alias("p"),
        (F.round(F.pow(p, F.lit(MIX_ALPHA)) * MIX_Q) / MIX_Q).alias("pa"),
    )
    z = pdf.agg(F.sum("pa").alias("z"))
    return pdf.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("p", 6).alias("token_share"),
        F.round(F.col("pa") / F.col("z"), 6).alias("mix_weight"),
    )
