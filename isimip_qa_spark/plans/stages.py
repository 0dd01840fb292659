"""QA stages: each adds columns to the pages DataFrame (never filters — the
keep/drop decision is a column, so lineage can count rule trips).

The stage registry mirrors the reference's extraction plugin registry
(/root/reference/isimip_qa/extractions/__init__.py:11-22 walks the package
for Extraction subclasses) with explicit registration instead of import-time
magic. Lineage records the stage names.

The stages are the expression-form oracle of the QA pass: production
scoring is the sink's fused kernel (plans/sink.py), tested against them.
langid, rules and scrub are JVM column expressions, so the kernel (numpy and
Python `re`) is checked against a second engine; perplexity is the one
Arrow pandas UDF (`ppl_udf`: it has no expression twin, and JVM `exp` is
not known to match numpy's bit for bit). No per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import textstats as ts
from ..functions.langid import STOPWORD_UNION, lang_pred_expr
from ..functions.perplexity import ppl_udf
from ..functions.scrub import CANDIDATE_PATTERN, scrub_expr
from .config import QAConfig


@dataclass(frozen=True)
class Stage:
    name: str
    apply: Callable[[DataFrame, QAConfig], DataFrame]


def _langid(df: DataFrame, cfg: QAConfig) -> DataFrame:
    return df.withColumn("lang_pred", lang_pred_expr(F.col("text")))


def _perplexity(df: DataFrame, cfg: QAConfig) -> DataFrame:
    s = ppl_udf(F.col("text"))
    return df.withColumns(
        {"avg_logprob": s["avg_logprob"], "ppl": s["ppl"]}
    )


def _rules(df: DataFrame, cfg: QAConfig) -> DataFrame:
    return df.withColumns(
        ts.rule_columns(F.col("text"), stopwords=STOPWORD_UNION)
    )


def _scrub(df: DataFrame, cfg: QAConfig) -> DataFrame:
    # Delta form, as the sink stores it: only changed docs carry a value;
    # `text_scrubbed` is the JVM-side coalesce (apply_stages)
    text = F.col("text")
    s = scrub_expr(text)
    changed = text.rlike(CANDIDATE_PATTERN) & (s != text)
    return df.withColumn("scrub_delta", F.when(changed, s))


def _profile_overrides(cfg: QAConfig) -> dict[str, Column]:
    """Per-row profiled thresholds as CASE chains over lang_pred. Profiles
    are config, so like the sweep grids they compile into the expression —
    the corpus never joins a dim in the pipeline's decision stage."""
    out = {}
    for field, (by_lang, fallback) in cfg.profile_thresholds().items():
        expr: Column = F.lit(fallback)
        for lang, v in by_lang.items():
            expr = F.when(F.col("lang_pred") == lang, F.lit(v)).otherwise(expr)
        out[field] = expr
    return out


def rules_pass_expr(cfg: QAConfig) -> Column:
    return ts.keep_from(
        {col: F.col(col) for col, _, _ in ts.RULE_CONJUNCTS},
        cfg,
        _profile_overrides(cfg) if cfg.lang_profiles else None,
    )


def _decision(df: DataFrame, cfg: QAConfig) -> DataFrame:
    keep = (
        rules_pass_expr(cfg)
        & (F.col("ppl") <= F.lit(cfg.max_ppl))
        & F.col("lang_pred").isin(*cfg.allowed_langs)
    )
    return df.withColumn("keep", keep)


STAGES: list[Stage] = [
    Stage("langid", _langid),
    Stage("perplexity", _perplexity),
    Stage("rules", _rules),
    Stage("scrub", _scrub),
    Stage("decision", _decision),
]
