"""QA stages: each adds columns to the pages DataFrame (never filters — the
keep/drop decision is a column, so lineage can count rule trips).

The stage registry mirrors the reference's extraction plugin registry
(/root/reference/isimip_qa/extractions/__init__.py:11-22 walks the package
for Extraction subclasses) with explicit registration instead of import-time
magic; capability predicates (has_region/has_period, models.py:139-145)
become `Stage.applicable(cfg)`.

Everything is column expressions or Arrow pandas UDFs — no per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import textstats as ts
from ..functions.langid import STOPWORD_UNION, lang_pred_udf
from ..functions.perplexity import ppl_udf
from ..functions.qa_fused import RULE_STAT_COLS, SCORE_COLS, qa_scores_udf
from ..functions.scrub import scrub_delta_udf
from .config import QAConfig


@dataclass(frozen=True)
class Stage:
    name: str
    apply: Callable[[DataFrame, QAConfig], DataFrame]
    # columns this stage adds (lineage metadata + pruning discipline)
    adds: tuple[str, ...]


def _langid(df: DataFrame, cfg: QAConfig) -> DataFrame:
    return df.withColumn("lang_pred", lang_pred_udf(F.col("text")))


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
    # Python-re backend: the byte-identity invariant vs the pandas oracle.
    # Delta form: only changed docs carry a value; `text_scrubbed` is the
    # JVM-side coalesce (stored once, reconstructed on read — scale path).
    return df.withColumn("scrub_delta", scrub_delta_udf(F.col("text")))


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


def _python_scores_fused(df: DataFrame, cfg: QAConfig) -> DataFrame:
    """langid + perplexity + scrub + rule statistics in ONE Arrow round-trip
    (qa_fused.py); outputs are bit-identical to the individual stages
    (tested against the expression forms)."""
    s = qa_scores_udf(F.col("text"))
    return df.withColumns({c: s[c] for c, _ in SCORE_COLS})


STAGES: list[Stage] = [
    Stage("langid", _langid, ("lang_pred",)),
    Stage("perplexity", _perplexity, ("avg_logprob", "ppl")),
    Stage("rules", _rules, tuple(c for c, _ in RULE_STAT_COLS)),
    Stage("scrub", _scrub, ("scrub_delta",)),
    Stage("decision", _decision, ("keep",)),
]

# Physical plan actually executed by the pipeline: every per-doc computation
# fused into one UDF; logical stage list (lineage) stays STAGES.
FUSED_STAGES: list[Stage] = [
    Stage(
        "python_scores", _python_scores_fused, tuple(c for c, _ in SCORE_COLS)
    ),
    STAGES[4],  # decision
]
