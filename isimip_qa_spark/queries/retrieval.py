"""Retrieval scoring: BM25 top-k for a fixed query-term set.

The missing face of the text family beside dedup (similarity), QA
(filtering), and evaluation (agreement): given query terms, rank the
corpus. Used in a training-data pipeline for targeted corpus probes
("show me the docs this benchmark query would retrieve" — a
decontamination adjunct) and as the retrieval baseline ANN complements.

Cross-engine float discipline (module contract in queries/__init__.py):
the idf is the RATIONAL form (N - df + 0.5)/(df + 0.5) — a production
system takes ln() of it (Robertson-Sparck-Jones); ln's last ulp is
engine-dependent, the rational form is division-exact and order-
preserving for single-term queries, and the docstring says so instead of
hiding a rounded ln. All remaining ops are IEEE +,*,/ in an identical
tree on both engines; the emitted score is round(·, 6) defensively.

Scale shape (10^12 docs):
- tf per term is `size(filter(tokens, = term))` — a per-row column
  expression per query term: NO explode, NO shuffle, the corpus is
  scanned once and only (doc_id, tf..., dl) survives the map stage.
- Corpus statistics (df per term, avgdl, N) are ONE single-row aggregate
  broadcast back with a cross join (the host_reputation 1-row-dim
  pattern) — never a window.
- Global top-k is orderBy + limit = TakeOrderedAndProject (per-partition
  heap + driver merge of k·P rows), never a single-partition window;
  rank is a row_number over the ALREADY-SELECTED k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import read_table
from ..functions.textstats import TOKENS_SQL
from . import register

QUERY_TERMS = ["hash", "join", "scan", "slow"]
K1 = 1.2
B = 0.75
TOP_K = 20

def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter({TOKENS_SQL}, x -> x = '{t}'))::BIGINT AS tf_{i}"
        for i, t in enumerate(QUERY_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{i}"
        for i in range(len(QUERY_TERMS))
    )
    score_terms = " + ".join(
        f"((s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
        f" * (tf_{i} * {K1 + 1.0})"
        f" / (tf_{i} + {K1} * (1.0 - {B} + {B} * dl / s.avgdl))"
        for i in range(len(QUERY_TERMS))
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {tf_cols}, len({TOKENS_SQL})::BIGINT AS dl FROM documents
    ),
    s AS (
      SELECT {df_cols}, sum(dl)::DOUBLE / count(*) AS avgdl,
             count(*)::BIGINT AS n
      FROM t
    ),
    sc AS (
      SELECT t.doc_id, ({score_terms}) AS score FROM t, s
      WHERE {" + ".join(f"tf_{i}" for i in range(len(QUERY_TERMS)))} > 0
    ),
    top AS (
      SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT {TOP_K}
    )
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
           round(score, 6) AS score
    FROM top
    """


@register("bm25_topk", oracle=_bm25_sql())
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    def tf_expr(term: str):
        # NB: a default-arg lambda (lambda x, t=term: ...) would change the
        # HOF arity to (value, index) — the repo-documented pyspark gotcha
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("long")

    t = d.select(
        "doc_id",
        *[tf_expr(term).alias(f"tf_{i}") for i, term in enumerate(QUERY_TERMS)],
        F.size(toks).cast("long").alias("dl"),
    )
    s = t.agg(
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{i}")
            for i in range(len(QUERY_TERMS))
        ],
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    score = None
    for i in range(len(QUERY_TERMS)):
        tf = F.col(f"tf_{i}")
        term = (
            ((F.col("n") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5))
            * (tf * F.lit(K1 + 1.0))
            / (tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl")))
        )
        score = term if score is None else score + term
    any_tf = None
    for i in range(len(QUERY_TERMS)):
        any_tf = F.col(f"tf_{i}") if any_tf is None else any_tf + F.col(f"tf_{i}")
    sc = (
        t.crossJoin(F.broadcast(s))
        .filter(any_tf > 0)
        .select("doc_id", score.alias("score"))
    )
    top = sc.orderBy(F.desc("score"), F.asc("doc_id")).limit(TOP_K)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))  # over K rows only
    return top.select(
        "doc_id",
        F.row_number().over(w).alias("rank"),
        F.round("score", 6).alias("score"),
    )
