"""Corpus-trained bigram language model with Stupid Backoff scoring.

The north-star names "KenLM-style n-gram perplexity scoring"; the existing
`perplexity` query pins down the *scoring plumbing* (broadcast model +
Arrow kernel) against a frozen synthetic unigram table. This module is the
other half: the model is TRAINED, CCNet-style (Wenzek et al. 2020 train
KenLM on the target domain and score the crawl), on the even-`doc_id` half
of the corpus — the stand-in for "the reference domain" (the same split
discipline as DSIR's TARGET_MOD, queries/dsir.py) — and every document is
scored against it with the scoring rule the web-scale literature actually
uses for distributed n-gram LMs, Stupid Backoff (Brants et al. 2007,
"Large Language Models in Machine Translation", §4):

    S(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})   if the bigram was seen
                     = 0.4 * c(w_i) / N              else, w_i in vocab
    S(w_1)           = c(w_1) / N                    (sentence-initial)
    OOV              = floor logprob, BELOW every in-vocab score
                       BY CONSTRUCTION: q(ln(0.4/N)) - OOV_MARGIN. The
                       worst in-vocab score is the backoff branch at
                       c(w_i)=1, i.e. q(ln(0.4·1/N)), so the floor sits
                       exactly OOV_MARGIN under it AT ANY CORPUS SIZE —
                       a fixed constant would invert the OOV-vs-rare-word
                       ordering once N > 0.4·e^|floor| (≈3.5M tokens for
                       -16), rewarding gibberish over clean rare text.

(scores, not probabilities — no normalisation, no discounting — which is
exactly why it distributes: training is pure counting.)

Reference analogue: the reference computes per-dataset summary statistics
with whole-array ops (/root/reference/isimip_qa/extractions/mean.py:35);
here both model fit and scoring are single declarative plans.

Scale contract (the Brants design, re-expressed in Spark):
- TRAIN = ONE corpus-touching hash aggregation: the sentinel-pair stream
  (every token occurrence appears exactly once as w2) aggregates keyed on
  (w1, w2); the unigram table is a re-aggregate of THAT table — a
  |bigram-vocab|-sized agg, not a second corpus pass. Map-side partial
  aggregation means the shuffle carries one row per distinct n-gram per
  task, not per occurrence — at 10^12 docs the bigram table is sharded by
  its group key exactly like Brants' hash-partitioned count tables. The
  model-half filter is a pushed scan predicate, not a separate pass.
- SCORE = the "batched lookup" join: the position stream joins the bigram
  table on (w1, w2) — the SAME key the training agg produced, so a
  production run that persists the model bucketed by (w1, w2) replays the
  lookup without re-shuffling the model. The unigram table is vocabulary-
  sized (≪ corpus; ~10^7 rows even at crawl scale) and is broadcast.
- Hot keys: the most frequent bigram appears once per occurrence on the
  PROBE side only (the model side has one row per distinct n-gram), so a
  hot key means one oversized shuffle partition — AQE skew-join splits it;
  the build side is never skewed.
- Determinism: every per-position logprob is quantized to the 1/Q dyadic
  grid (round(ln(s)·Q)/Q — the DSIR recipe, queries/dsir.py), so per-doc
  SUMS are exact in IEEE double regardless of accumulation order and the
  DuckDB twin matches bit-for-bit; only exp(-avg) can differ by a libm ulp,
  absorbed by round-to-6. The OOV floor is dyadic by construction
  (a 1/Q-grid value minus the dyadic OOV_MARGIN).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions import textstats as ts
from . import register

Q = 1024  # dyadic quantization grid for per-position logprobs
BACKOFF = 0.4  # Brants et al. 2007 §4: fixed, not tuned
MODEL_MOD = 2  # doc_id % MODEL_MOD == 0 → model-training half
OOV_MARGIN = 1.0  # dyadic; OOV floor = q(ln(BACKOFF/N)) - OOV_MARGIN
N_TOP = 50  # lm_bigram_top rows


def oov_floor_lp(n_corpus: int) -> float:
    """Python twin of the in-plan OOV floor (module docstring), for tests
    and driver-side reporting: the quantized worst possible in-vocab
    backoff score minus the dyadic margin."""
    v = math.log(BACKOFF / n_corpus) * Q
    q = math.floor(v + 0.5) / Q if v >= 0 else math.ceil(v - 0.5) / Q
    return q - OOV_MARGIN


def _toks(spark: SparkSession, sf_dir: str, model_half: bool) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    if model_half:
        d = d.filter(F.col("doc_id") % MODEL_MOD == 0)
    return d.select("doc_id", ts.tokens_expr(F.col("text")).alias("toks"))


def _pairs_expr() -> F.Column:
    n = F.size("toks")
    return F.arrays_zip(
        F.slice("toks", 1, n - 1).alias("w1"),
        F.slice(F.col("toks"), 2, n - 1).alias("w2"),
    )


def _sentinel_pairs_expr() -> F.Column:
    """The full position stream as pairs: a leading (NULL, w_1) sentinel
    gives the sentence-initial unigram term the same row shape as the
    bigram terms — and makes every token occurrence appear EXACTLY ONCE
    as w2, which is what lets the unigram table be derived from the
    bigram aggregate instead of a second corpus pass."""
    return F.concat(
        F.array(
            F.struct(
                F.lit(None).cast("string").alias("w1"),
                F.col("toks").getItem(0).alias("w2"),
            )
        ),
        _pairs_expr(),
    )


def _model(toksdf: DataFrame):
    """(big, uni, tot) from ONE scan of the model half: the sentinel-pair
    stream aggregates once keyed on (w1, w2); the unigram table then
    re-aggregates THAT table (each occurrence is exactly one stream w2),
    so it costs a |bigram-vocab|-sized agg, not a corpus pass."""
    big_all = (
        toksdf.select(F.explode(_sentinel_pairs_expr()).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    big = big_all.filter(F.col("w1").isNotNull()).select(
        "w1", "w2", F.col("c").alias("cb")
    )
    uni = big_all.groupBy(F.col("w2").alias("w")).agg(F.sum("c").alias("cu"))
    tot = uni.agg(F.sum("cu").alias("n_corpus"))
    return big, uni, tot


def _big(toksdf: DataFrame) -> DataFrame:
    """(w1, w2, cb): bigram counts, keyed on the pair — the model's shard
    key at scale (persist bucketed by (w1, w2) to make scoring joins
    shuffle-free on the model side)."""
    big, _, _ = _model(toksdf)
    return big


_MODEL_SQL = f"""
    mtoks AS (SELECT {ts.TOKENS_SQL} AS t FROM documents
              WHERE doc_id % {MODEL_MOD} = 0),
    big AS (
      SELECT w1, w2, count(*)::BIGINT AS cb FROM (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM mtoks, UNNEST(range(1, len(t))) AS u(i)
      ) GROUP BY w1, w2
    )"""


@register(
    "lm_bigram_top",
    oracle=f"""
    WITH {_MODEL_SQL}
    SELECT w1, w2, cb FROM big
    ORDER BY cb DESC, w1, w2 LIMIT {N_TOP}
    """,
)
def lm_bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model's head: top-{N_TOP} bigrams by count (ties → lexicographic).
    orderBy+limit compiles to TakeOrdered — per-partition top-k then a
    driver merge of K·P rows, never a global sort."""
    return (
        _big(_toks(spark, sf_dir, model_half=True))
        .orderBy(F.desc("cb"), "w1", "w2")
        .limit(N_TOP)
    )


@register(
    "ppl_stupid_backoff",
    oracle=f"""
    WITH {_MODEL_SQL},
    uni AS (
      SELECT w, count(*)::BIGINT AS cu
      FROM (SELECT unnest(t) AS w FROM mtoks) GROUP BY w
    ),
    tot AS (SELECT sum(cu)::BIGINT AS n_corpus FROM uni),
    toks AS (SELECT doc_id, {ts.TOKENS_SQL} AS t FROM documents),
    stream AS (
      SELECT doc_id,
             CASE WHEN i = 1 THEN NULL ELSE t[i - 1] END AS w1,
             t[i] AS w2
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    scored AS (
      SELECT s.doc_id,
             CASE
               WHEN u2.cu IS NULL
                 THEN round(ln({BACKOFF} / tot.n_corpus) * {Q}) / {Q}
                      - {OOV_MARGIN}
               WHEN s.w1 IS NULL
                 THEN round(ln(CAST(u2.cu AS DOUBLE) / tot.n_corpus) * {Q}) / {Q}
               WHEN b.cb IS NOT NULL
                 THEN round(ln(CAST(b.cb AS DOUBLE) / u1.cu) * {Q}) / {Q}
               ELSE round(ln({BACKOFF} * u2.cu / tot.n_corpus) * {Q}) / {Q}
             END AS lp
      FROM stream s
      LEFT JOIN uni u2 ON u2.w = s.w2
      LEFT JOIN uni u1 ON u1.w = s.w1
      LEFT JOIN big b ON b.w1 = s.w1 AND b.w2 = s.w2
      CROSS JOIN tot
    )
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           round(sum(lp) / count(*), 6) AS avg_logprob,
           round(exp(-(sum(lp) / count(*))), 6) AS ppl
    FROM scored GROUP BY doc_id
    """,
)
def ppl_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc perplexity of EVERY document under the Stupid Backoff bigram
    LM trained on the even-doc_id half: (doc_id, n_tokens, avg_logprob,
    ppl). Odd docs exercise the backoff and OOV branches for real (their
    bigrams/words need not occur in the model half).

    A production run swaps `_uni`/`_big` for a persisted model-table read
    (CCNet trains on Wikipedia, scores the crawl); everything downstream is
    unchanged. Positions are scored position-independently (position 1 =
    unigram, else backoff), so the whole query is scan → explode → joins →
    one doc_id agg with no window.
    """
    big, uni, tot = _model(_toks(spark, sf_dir, model_half=True))

    # position stream over ALL docs, same sentinel-pair shape
    alltoks = _toks(spark, sf_dir, model_half=False)
    stream = alltoks.select(
        "doc_id", F.explode(_sentinel_pairs_expr()).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    s = (
        stream.join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"))),
            "w2",
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1"))),
            "w1",
            "left",
        )
        .join(big, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(tot))
    )

    def _q(x: F.Column) -> F.Column:
        return F.round(x * Q) / Q

    lp = (
        F.when(
            F.col("cu2").isNull(),
            _q(F.log(F.lit(BACKOFF) / F.col("n_corpus"))) - OOV_MARGIN,
        )
        .when(
            F.col("w1").isNull(),
            _q(F.log(F.col("cu2").cast("double") / F.col("n_corpus"))),
        )
        .when(
            F.col("cb").isNotNull(),
            _q(F.log(F.col("cb").cast("double") / F.col("cu1"))),
        )
        .otherwise(
            _q(F.log(F.lit(BACKOFF) * F.col("cu2") / F.col("n_corpus")))
        )
    )
    avg = F.col("lpsum") / F.col("n_tokens")
    return (
        s.groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum(lp).alias("lpsum"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(avg, 6).alias("avg_logprob"),
            F.round(F.exp(-avg), 6).alias("ppl"),
        )
    )
