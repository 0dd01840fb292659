"""End-to-end training-data preparation: the composition a real user runs.

One query chaining the pipeline's selection stages in their production
order, with a single chained DuckDB oracle so the COMPOSITION is
value-checked, not just each stage:

  1. quality gate — Gopher heuristic keep (functions/textstats.keep_expr)
     AND the learned linear-classifier gate (queries/textmodel, int64-exact);
  2. exact dedup — min-doc_id representative per identical text, carried
     with its source via one min(struct) hash-agg (no join, no window);
  3. decontamination — drop representatives sharing any word-13-gram with
     the benchmark side (queries/decontaminate semantics: doc_id % 10 == 0
     is the eval carve-out; eval docs themselves never reach training);
  4. deterministic sample — content-fingerprint bucket keep
     (queries/mixing semantics), seedless and shuffle-free.

Scale shape: stages 1 and 4 are scan-stage predicates (no shuffle); stage 2
is ONE hash agg with map-side partials; stage 3 broadcasts the (small) eval
n-gram set and then the (smaller still) contaminated-id set — the corpus
never shuffles for either join. Net: the corpus-sized stream crosses
exactly one exchange (the dedup agg, keyed on 8-byte xxhash64 + text);
every other exchange in the plan is on the MB-scale eval/contaminated
sides, which then broadcast. Asserted in tests/test_training_prep.py.
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
)
from . import register
from .decontaminate import EVAL_MOD, K, ngrams_sql
from .mixing import SAMPLE_BUCKETS, SAMPLE_KEEP
from .textmodel import _weight_sql
from .textmodel import _weight_expr

_T = ts.TOKENS_SQL

# the Gopher keep predicate over inlined rule statistics: the same fold of
# the rule table that queries/webtext._GOPHER_SQL applies to its CTE
_KEEP_SQL = ts.keep_sql(ts.rule_columns_sql("text"))

_NG = ngrams_sql(_T, K)

_PREP_SQL = f"""
    WITH kept AS (
      SELECT doc_id, source, text FROM documents
      WHERE {_KEEP_SQL}
        AND list_sum(list_transform({_T}, t -> {_weight_sql('t')}))::BIGINT > 0
    ),
    reps AS (SELECT min(doc_id) AS doc_id, text FROM kept GROUP BY text),
    reps2 AS (
      SELECT r.doc_id, k.source, r.text FROM reps r JOIN kept k USING (doc_id)
    ),
    ev AS (
      SELECT DISTINCT unnest({_NG}) AS ng FROM documents
      WHERE doc_id % {EVAL_MOD} = 0
    ),
    tr AS (
      SELECT doc_id, unnest({_NG}) AS ng FROM reps2
      WHERE doc_id % {EVAL_MOD} <> 0
    ),
    contaminated AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (ng)),
    clean AS (
      SELECT * FROM reps2
      WHERE doc_id % {EVAL_MOD} <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT doc_id, source, len({_T})::BIGINT AS ws_tokens
    FROM clean
    WHERE (({rolling_fingerprint_sql(_T)} % {SAMPLE_BUCKETS})
           + {SAMPLE_BUCKETS}) % {SAMPLE_BUCKETS} < {SAMPLE_KEEP}
    ORDER BY doc_id
"""


@register("training_prep", _PREP_SQL)
def training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selected training set: (doc_id, source, ws_tokens) after quality
    gate → exact dedup → decontamination → deterministic sample."""
    docs = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    toks = ts.tokens_expr(text)

    swi = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + _weight_expr(t)
    )
    kept = docs.filter(ts.keep_expr(text) & (swi > 0)).select(
        "doc_id", "source", "text"
    )

    # min-id representative + its source in one hash agg: min(struct) orders
    # by the struct's first field, so no join-back and no window
    reps = (
        kept.withColumn("_th", F.xxhash64("text"))
        .groupBy("_th", "text")
        .agg(F.min(F.struct("doc_id", "source")).alias("m"))
        .select(
            F.col("m.doc_id").alias("doc_id"),
            F.col("m.source").alias("source"),
            "text",
        )
    )

    grams13 = shingles_expr(toks, k=K)
    ev = (
        docs.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode(grams13).alias("ng"))
        .distinct()
    )
    train = reps.filter(F.col("doc_id") % EVAL_MOD != 0)
    contaminated = (
        train.select("doc_id", F.explode(shingles_expr(ts.tokens_expr(text), k=K)).alias("ng"))
        .join(F.broadcast(ev), "ng")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(F.broadcast(contaminated), "doc_id", "left_anti")

    fp = rolling_fingerprint_expr(ts.tokens_expr(text))
    return (
        clean.filter(F.pmod(fp, F.lit(SAMPLE_BUCKETS)) < SAMPLE_KEEP)
        .select("doc_id", "source", F.size(ts.tokens_expr(text)).cast("long").alias("ws_tokens"))
    )
