"""DSIR-style data selection over `documents` (Data Selection via
Importance Resampling, Xie et al. 2023, NeurIPS — public method).

Given a small target-domain sample and the big raw pool, DSIR fits two
bag-of-hashed-n-grams unigram models (target p̂ and raw q̂ over B hash
buckets), scores every raw document with the importance log-weight
log w(x) = Σ_{g ∈ ngrams(x)} [ln p̂(bucket(g)) − ln q̂(bucket(g))],
and resamples via Gumbel-top-k on the log-weights. Here the target sample
is carved deterministically out of the corpus (doc_id % TARGET_MOD == 0,
the same self-contained device `queries/decontaminate.py` uses for its
benchmark side), so the whole chain is oracle-able.

Registered faces:
- `dsir_logratio` — the fitted B-bucket model: per-bucket target/raw
  counts and the smoothed log-likelihood-ratio, quantized to a dyadic
  grid (multiples of 1/1024) so every downstream per-doc SUM is exact in
  IEEE double regardless of accumulation order (the
  `functions/perplexity.py` determinism contract).
- `dsir_weights` — per-raw-doc importance log-weight. The B-bucket model
  is collected once driver-side (B rows, small-by-construction — the
  two-pass histogram precedent, reference_ops.py A7/A8) and folded
  map-side as an array-literal lookup: ZERO shuffle for scoring.
- `dsir_select` — Gumbel-top-K resample: key = logweight + Gumbel(0,1)
  with the uniform drawn from the doc's content fingerprint (seedless,
  reproducible, task-retry-safe — `rand()` is banned for the same reasons
  as in queries/mixing.py).
- `dsir_kl` — one-row selection-quality report: KL(selected ‖ target)
  beside KL(raw ‖ target) over the hashed-n-gram buckets.

Scale shape (100 TB):
- Model fit is ONE pass: explode hashed n-gram buckets inside the map
  stage, hash-aggregate on the 8-byte bucket key — partial-aggregable,
  and the aggregate output is exactly B rows no matter the corpus size.
  Nothing document-sized ever shuffles.
- Scoring is a narrow map (fold over the doc's own n-gram buckets against
  a broadcast-sized literal array); the only post-scan work in
  `dsir_select` is TakeOrderedAndProject (per-partition top-K, then K·P
  rows to the driver-side merge), never a full sort.
- The n-gram feature space is hashed to B buckets up front, so model size
  is O(B) independent of vocabulary — the property that makes DSIR run at
  crawl scale at all.

Reference anchor: the reference has no selection stage (climate QA); this
operator family comes from the training-data-pipeline mandate
(SURVEY.md §2.9 extension set), beside mixing/selection/packing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions.fingerprint import (
    KNUTH,
    MOD31,
    rolling_fingerprint_expr,
    rolling_fingerprint_sql,
    token_ends,
    token_hash_expr,
    token_hash_np,
    token_hash_sql,
)
from ..functions.textstats import TOKENS_SQL, tokens_arrow, tokens_expr
from . import register

B = 1024  # hash-feature buckets (model size O(B), vocab-independent)
TARGET_MOD = 10  # doc_id % TARGET_MOD == 0 → target-domain sample
ALPHA = 1  # Laplace smoothing count
Q = 1024  # dyadic quantization grid for the per-bucket log-ratio
SELECT_K = 200  # Gumbel-top-k resample size
_UPRIME = (1 << 31) - 1  # uniform grain for the Gumbel draw


# --- hashed n-gram features (unigram + bigram), engine-portable ----------


def _ngram_buckets_expr(tokens: Column) -> Column:
    """Unigram + bigram hash buckets in [0, B) as one array<bigint>.
    Bigram hash chains the portable token hash with the same KNUTH
    multiplier the token hash itself uses; everything stays < 2^62."""
    n = F.size(tokens)
    uni = F.transform(tokens, lambda t: token_hash_expr(t) % F.lit(B))
    big = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: (
                token_hash_expr(F.element_at(tokens, i)) * F.lit(KNUTH)
                + token_hash_expr(F.element_at(tokens, i + 1))
            )
            % F.lit(MOD31)
            % F.lit(B),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.concat(uni, big)


def _ngram_buckets_sql(tokens_sql: str) -> str:
    """DuckDB twin of `_ngram_buckets_expr` (1-based list indexing)."""
    t = tokens_sql
    th_i = token_hash_sql(f"{t}[i]")
    th_j = token_hash_sql(f"{t}[i+1]")
    uni = f"list_transform({t}, x -> ({token_hash_sql('x')}) % {B})"
    big = (
        f"list_transform(range(1, greatest(len({t}) - 1, 0) + 1), "
        f"i -> ((({th_i}) * {KNUTH} + ({th_j})) % {MOD31}) % {B})"
    )
    return f"list_concat({uni}, {big})"


# --- model fit: per-bucket counts + dyadic log-likelihood ratio ----------

# Shared SQL CTE chain: per-bucket counts densified over all B buckets,
# totals, and the quantized log-ratio. DuckDB's range() table function
# exposes its value as column `range`.
_MODEL_CTE = f"""
WITH ng AS (
  SELECT doc_id % {TARGET_MOD} = 0 AS is_target,
         unnest({_ngram_buckets_sql(TOKENS_SQL)}) AS bucket
  FROM documents
),
cnt AS (
  SELECT bucket,
         count(*) FILTER (is_target) AS target_cnt,
         count(*) FILTER (NOT is_target) AS raw_cnt
  FROM ng GROUP BY bucket
),
dense AS (
  SELECT r.range AS bucket,
         coalesce(cnt.target_cnt, 0)::BIGINT AS target_cnt,
         coalesce(cnt.raw_cnt, 0)::BIGINT AS raw_cnt
  FROM range({B}) r LEFT JOIN cnt ON r.range = cnt.bucket
),
model AS (
  SELECT bucket, target_cnt, raw_cnt,
         round((ln((target_cnt + {ALPHA})::DOUBLE
                   / (sum(target_cnt) OVER () + {ALPHA * B}))
              - ln((raw_cnt + {ALPHA})::DOUBLE
                   / (sum(raw_cnt) OVER () + {ALPHA * B}))) * {Q}) / {Q}
           AS logratio
  FROM dense
)
"""


def _flagged_counts(is_t, texts):
    """Per-batch per-bucket target/raw n-gram counts from an explicit
    boolean flag array — the single count kernel behind both fits: the
    oracle-able batch fit (`_count_batches`, flag = the doc_id carve-out)
    and the artifact fit against a real separate target corpus
    (plans/dsir_artifact.py, flag = which side of the union a row is)."""
    import numpy as np
    import pandas as pd

    doc, bucket, _, _ = _bucket_parts(texts)
    t = is_t[doc]
    return pd.DataFrame(
        {
            "bucket": np.arange(B, dtype=np.int64),
            "target_cnt": np.bincount(bucket[t], minlength=B).astype(np.int64),
            "raw_cnt": np.bincount(bucket[~t], minlength=B).astype(np.int64),
        }
    )


def quantized_logratio(t_cnt: int, r_cnt: int, t_tot: int, r_tot: int) -> float:
    """Driver-side twin of the smoothed, 1/Q-quantized per-bucket
    log-likelihood ratio (`_model_df` expr / `_MODEL_CTE` SQL) — the one
    Python copy of the smoothing formula, shared with the artifact fit."""
    import math

    return (
        round(
            (
                math.log((t_cnt + ALPHA) / (t_tot + ALPHA * B))
                - math.log((r_cnt + ALPHA) / (r_tot + ALPHA * B))
            )
            * Q
        )
        / Q
    )


def _count_batches(it):
    """mapInPandas kernel: per Arrow batch, PRE-AGGREGATED per-bucket
    target/raw n-gram counts (exactly B rows out per batch — the map-side
    combine np.bincount gives for free). The downstream groupBy(bucket)
    shuffle therefore carries ≤ B rows per batch no matter how many
    documents the batch holds — the same partials-only discipline as the
    QA metrics sink (plans/sink.py)."""
    for pdf in it:
        is_t = (pdf["doc_id"].to_numpy() % TARGET_MOD) == 0
        yield _flagged_counts(is_t, pdf["text"])


def _model_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit the B-bucket model as a DataFrame: one vectorized-kernel pass
    emitting per-batch bucket partials, summed by one ≤B-key hash agg,
    densified against spark.range(B). (A pure-expression explode+agg fit
    was tried and REJECTED: the string ops behind the portable token hash
    run ~3× per token there and dominated — measured 10s vs <1s at sf0.1;
    the counts are integer-exact either way and the DuckDB oracle checks
    them.)"""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    partials = d.mapInPandas(
        _count_batches, "bucket long, target_cnt long, raw_cnt long"
    )
    cnt = partials.groupBy("bucket").agg(
        F.sum("target_cnt").alias("target_cnt"),
        F.sum("raw_cnt").alias("raw_cnt"),
    )
    dense = (
        spark.range(B)
        .withColumnRenamed("id", "bucket")
        .join(F.broadcast(cnt), "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("target_cnt"), F.lit(0)).cast("long").alias("target_cnt"),
            F.coalesce(F.col("raw_cnt"), F.lit(0)).cast("long").alias("raw_cnt"),
        )
    )
    # totals over B rows — tiny; window-free via a broadcast 1-row cross join
    tot = dense.agg(
        F.sum("target_cnt").alias("t_tot"), F.sum("raw_cnt").alias("r_tot")
    )
    lr = (
        F.round(
            (
                F.log((F.col("target_cnt") + ALPHA) / (F.col("t_tot") + ALPHA * B))
                - F.log((F.col("raw_cnt") + ALPHA) / (F.col("r_tot") + ALPHA * B))
            )
            * Q
        )
        / Q
    )
    return dense.crossJoin(F.broadcast(tot)).select(
        "bucket", "target_cnt", "raw_cnt", lr.alias("logratio")
    )


@register(
    "dsir_logratio",
    oracle=_MODEL_CTE + "SELECT bucket, target_cnt, raw_cnt, logratio FROM model",
)
def dsir_logratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted hashed-n-gram importance model (B rows)."""
    return _model_df(spark, sf_dir)


# --- scoring: zero-shuffle fold over a broadcast-sized literal array -----


def _logratio_array(spark: SparkSession, sf_dir: str) -> list[float]:
    """Collect the B quantized log-ratios (bucket-ordered). B rows — the
    same small-by-construction driver hop as the two-pass histogram."""
    rows = _model_df(spark, sf_dir).select("bucket", "logratio").collect()
    arr = [0.0] * B
    for r in rows:
        arr[r["bucket"]] = r["logratio"]
    return arr


def _bucket_parts(texts):
    """Vectorized unigram+bigram hash buckets — the same integers as
    `_ngram_buckets_expr`: the portable hash of each unique token, gathered
    through the shared token frame (textstats.tokens_arrow). A NULL text
    has no n-gram, as `unnest` yields no row for it in the DuckDB fit.
    Returns (doc: int64 doc index of each n-gram, bucket: its bucket,
    n_grams per doc, valid: text is not NULL)."""
    import numpy as np

    valid, n_tok, doc_idx, codes, uniques = tokens_arrow(texts)
    th = token_hash_np(*token_ends(uniques))[codes]
    same = doc_idx[:-1] == doc_idx[1:]  # bigram partner in same doc
    big = ((th[:-1] * KNUTH + th[1:]) % MOD31)[same] % B
    doc = np.concatenate([doc_idx, doc_idx[:-1][same]])
    bucket = np.concatenate([th % B, big])
    if not valid.all():
        keep = valid[doc]
        doc, bucket = doc[keep], bucket[keep]
    return doc, bucket, n_tok + np.maximum(n_tok - 1, 0), valid


def _score_kernel(lr):
    """(logratio array) → pandas kernel: texts → (n_grams, logweight), both
    NULL for a NULL text (the `_weights_expr_df` twin's answer).
    Per-doc sums via bincount with float64 weights — every addend is a
    dyadic multiple of 1/Q, so the sum is exact in any order (the same
    contract as functions/perplexity.py)."""

    def score(texts):
        import numpy as np
        import pandas as pd

        doc, bucket, n_grams, valid = _bucket_parts(texts)
        lw = np.bincount(doc, weights=lr[bucket], minlength=len(valid))
        n = pd.array(n_grams, dtype="Int64")
        n[~valid] = pd.NA
        return pd.DataFrame({"n_grams": n, "logweight": np.where(valid, lw, np.nan)})

    return score


def _weights_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoring plan: one scan, one ArrowEvalPython, ZERO shuffle. The
    B-float model rides into the kernel closure (8 KB — broadcast-scale).
    An expression-tree fold over an array literal was tried and REJECTED:
    Catalyst re-materializes the 1024-element literal array per
    element_at call, ~O(B) work per n-gram (measured 6× slower at
    sf0.1); the kernel is bit-identical (tests/test_dsir.py)."""
    import numpy as np

    lr = np.array(_logratio_array(spark, sf_dir), dtype=np.float64)
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    udf = F.pandas_udf(
        _score_kernel(lr), "n_grams long, logweight double"
    )
    return (
        d.filter(F.col("doc_id") % TARGET_MOD != 0)
        .select("doc_id", udf(F.col("text")).alias("s"))
        .select("doc_id", F.col("s.n_grams").alias("n_grams"),
                F.col("s.logweight").alias("logweight"))
    )


def _weights_expr(text: Column, lr) -> tuple[Column, Column]:
    """(n_grams, logweight) as pure expressions over the logratio array `lr`
    (slow: see _weights_df docstring) — the bit-equality twin `_score_kernel`
    is tested against. NULL text gives NULL for both."""
    arr = F.array(*[F.lit(float(v)) for v in lr])
    buckets = _ngram_buckets_expr(tokens_expr(text))
    lw = F.aggregate(
        F.transform(buckets, lambda b: F.element_at(arr, (b + 1).cast("int"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.size(buckets).cast("long"), lw


def _weights_expr_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_weights_df` through `_weights_expr`, the pure-expression path."""
    n_grams, lw = _weights_expr(F.col("text"), _logratio_array(spark, sf_dir))
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.filter(F.col("doc_id") % TARGET_MOD != 0).select(
        "doc_id", n_grams.alias("n_grams"), lw.alias("logweight")
    )


_WEIGHTS_SQL = (
    _MODEL_CTE
    + f""",
lrarr AS (SELECT list(logratio ORDER BY bucket) AS arr FROM model),
scored AS (
  SELECT doc_id,
         len({_ngram_buckets_sql(TOKENS_SQL)})::BIGINT AS n_grams,
         list_sum(list_transform({_ngram_buckets_sql(TOKENS_SQL)},
                                 b -> arr[(b + 1)::INT]))::DOUBLE AS logweight
  FROM documents, lrarr
  WHERE doc_id % {TARGET_MOD} != 0
)
"""
)


@register("dsir_weights", oracle=_WEIGHTS_SQL + "SELECT * FROM scored")
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-raw-doc DSIR importance log-weight. Dyadic per-bucket values ⇒
    the fold is bit-exact across engines with no rounding."""
    return _weights_df(spark, sf_dir)


# --- Gumbel-top-k resample ------------------------------------------------


def _gumbel_expr(text: Column) -> Column:
    """Seedless Gumbel(0,1): u ∈ (0,1) from the doc's content fingerprint
    (exact int64 both engines), g = -ln(-ln(u))."""
    u = ((rolling_fingerprint_expr(tokens_expr(text)) % _UPRIME) + 1) / F.lit(
        float(_UPRIME + 2)
    )
    return -F.log(-F.log(u))


def _gumbel_sql() -> str:
    fp = rolling_fingerprint_sql(TOKENS_SQL)
    return (
        f"-ln(-ln((({fp}) % {_UPRIME} + 1)::DOUBLE / {float(_UPRIME + 2)!r}))"
    )


@register(
    "dsir_select",
    oracle=_WEIGHTS_SQL.replace(
        "AS logweight",
        "AS logweight, round(__GUMBEL__ + __LW__, 6) AS gumbel_key",
    )
    .replace("__GUMBEL__", _gumbel_sql())
    .replace(
        "__LW__",
        f"list_sum(list_transform({_ngram_buckets_sql(TOKENS_SQL)},"
        f" b -> arr[(b + 1)::INT]))::DOUBLE",
    )
    + f"""
SELECT doc_id, logweight, gumbel_key FROM scored
ORDER BY gumbel_key DESC, doc_id LIMIT {SELECT_K}
""",
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-K importance resample: the K docs with the largest
    logweight + Gumbel(0,1) — i.e. sampling without replacement with
    probability ∝ exp(logweight), made deterministic by the seedless
    fingerprint-derived uniform. Plan is TakeOrderedAndProject (per-task
    top-K, K·P driver merge), never a global sort."""
    import numpy as np

    lr = np.array(_logratio_array(spark, sf_dir), dtype=np.float64)
    return _select_df(spark, sf_dir, lr)


def _select_df(spark: SparkSession, sf_dir: str, lr) -> DataFrame:
    """dsir_select's plan from an already-materialized logratio array —
    shared with dsir_kl so the model is fitted once, not per caller."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    udf = F.pandas_udf(_score_kernel(lr), "n_grams long, logweight double")
    scored = (
        d.filter(F.col("doc_id") % TARGET_MOD != 0)
        .select(
            "doc_id",
            udf(F.col("text")).getField("logweight").alias("logweight"),
            _gumbel_expr(F.col("text")).alias("g"),
        )
    )
    key = F.round(F.col("g") + F.col("logweight"), 6)
    return (
        scored.select("doc_id", "logweight", key.alias("gumbel_key"))
        .orderBy(F.col("gumbel_key").desc(), "doc_id")
        .limit(SELECT_K)
    )


# --- selection-quality report: KL(selected ‖ target) vs KL(raw ‖ target) --

_SELECT_SQL = (
    _WEIGHTS_SQL.replace(
        "AS logweight",
        "AS logweight, round(__GUMBEL__ + __LW__, 6) AS gumbel_key",
    )
    .replace("__GUMBEL__", _gumbel_sql())
    .replace(
        "__LW__",
        f"list_sum(list_transform({_ngram_buckets_sql(TOKENS_SQL)},"
        f" b -> arr[(b + 1)::INT]))::DOUBLE",
    )
)

def _kl_sql(prec: int = 6) -> str:
    """The dsir_kl twin with a parameterized final rounding precision.

    prec=6 is the registered oracle; tests/test_dyadic_discipline.py
    re-runs it at prec=12 to assert the UNROUNDED KL sums sit nowhere near
    a round-6 boundary (the ln() terms are not dyadic, so the ~1e-12
    cross-engine accumulation jitter documented on dsir_kl is absorbed by
    rounding only while that distance holds — the boundary-distance arm of
    the VERDICT r4 dyadic-discipline sweep)."""
    return (
        _SELECT_SQL
        + f""",
sel AS (SELECT doc_id FROM scored ORDER BY gumbel_key DESC, doc_id
        LIMIT {SELECT_K}),
selcnt AS (
  SELECT bucket, count(*) AS s_cnt FROM (
    SELECT unnest({_ngram_buckets_sql(TOKENS_SQL)}) AS bucket
    FROM documents JOIN sel USING (doc_id)
  ) GROUP BY bucket
),
dist AS (
  SELECT m.bucket, m.target_cnt, m.raw_cnt, coalesce(selcnt.s_cnt, 0) AS s_cnt
  FROM model m LEFT JOIN selcnt ON m.bucket = selcnt.bucket
),
tot AS (
  SELECT sum(target_cnt) AS t_tot, sum(raw_cnt) AS r_tot, sum(s_cnt) AS s_tot
  FROM dist
)
SELECT
  round(sum(((s_cnt + {ALPHA})::DOUBLE / (s_tot + {ALPHA * B}))
        * ln(((s_cnt + {ALPHA})::DOUBLE / (s_tot + {ALPHA * B}))
           / ((target_cnt + {ALPHA})::DOUBLE / (t_tot + {ALPHA * B})))), {prec})
    AS kl_selected,
  round(sum(((raw_cnt + {ALPHA})::DOUBLE / (r_tot + {ALPHA * B}))
        * ln(((raw_cnt + {ALPHA})::DOUBLE / (r_tot + {ALPHA * B}))
           / ((target_cnt + {ALPHA})::DOUBLE / (t_tot + {ALPHA * B})))), {prec})
    AS kl_raw
FROM dist, tot
"""
    )


_KL_SQL = _kl_sql()


@register("dsir_kl", _KL_SQL)
def dsir_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row selection-quality report: smoothed KL divergence of the
    Gumbel-top-K selected subset's hashed-n-gram distribution from the
    target distribution, beside the raw pool's — the number the DSIR
    paper evaluates selection by (selection working ⇒
    kl_selected < kl_raw).

    Scale shape: the selected id set is K rows (broadcast); its n-gram
    recount touches only the K selected docs via a BroadcastHashJoin
    filter on the scan, then collapses to ≤ B rows map-side through the
    same `_count_batches` kernel; everything after is arithmetic over B
    rows. The dominant cost is `dsir_select`'s scan, run once.

    Float contract: the KL sums are Σ over B=1024 terms of products of
    ln() on identical rationals — not dyadic, so cross-engine
    accumulation jitter is ~1e-12 relative; round-to-6 absorbs it (the
    defensive-rounding convention, queries/__init__.py).

    The model is fitted ONCE: the B-row fit is collected, the logratio
    array feeds `_select_df`, and the same rows are re-created as a tiny
    local DataFrame for the KL arithmetic — no second counting pass over
    the corpus."""
    import numpy as np

    rows = _model_df(spark, sf_dir).collect()  # ONE fit pass, B rows
    lr = np.zeros(B, dtype=np.float64)
    for r in rows:
        lr[r["bucket"]] = r["logratio"]
    model = spark.createDataFrame(
        rows, "bucket long, target_cnt long, raw_cnt long, logratio double"
    )
    sel = _select_df(spark, sf_dir, lr).select("doc_id")
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    picked = d.join(F.broadcast(sel), "doc_id")
    selcnt = (
        picked.mapInPandas(
            _sel_count_batches, "bucket long, s_cnt long"
        )
        .groupBy("bucket")
        .agg(F.sum("s_cnt").alias("s_cnt"))
    )
    dist = (
        model.join(selcnt, "bucket", "left")
        .select(
            "bucket",
            "target_cnt",
            "raw_cnt",
            F.coalesce(F.col("s_cnt"), F.lit(0)).alias("s_cnt"),
        )
    )
    tot = dist.agg(
        F.sum("target_cnt").alias("t_tot"),
        F.sum("raw_cnt").alias("r_tot"),
        F.sum("s_cnt").alias("s_tot"),
    )
    j = dist.crossJoin(F.broadcast(tot))
    ps = (F.col("s_cnt") + ALPHA) / (F.col("s_tot") + ALPHA * B)
    pt = (F.col("target_cnt") + ALPHA) / (F.col("t_tot") + ALPHA * B)
    pr = (F.col("raw_cnt") + ALPHA) / (F.col("r_tot") + ALPHA * B)
    return j.agg(
        F.round(F.sum(ps * F.log(ps / pt)), 6).alias("kl_selected"),
        F.round(F.sum(pr * F.log(pr / pt)), 6).alias("kl_raw"),
    )


def _sel_count_batches(it):
    """mapInPandas kernel: per-batch bucket counts of the selected docs
    (no target/raw split — one count column)."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        _, bucket, _, _ = _bucket_parts(pdf["text"])
        yield pd.DataFrame(
            {
                "bucket": np.arange(B, dtype=np.int64),
                "s_cnt": np.bincount(bucket, minlength=B).astype(np.int64),
            }
        )
