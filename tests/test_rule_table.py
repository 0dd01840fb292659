"""The keep gate's conjunct table drives every decision form: the Spark
expression (stages.rules_pass_expr + decision), the sink's `_keep_series`
and the DuckDB predicate (`keep_sql`) must agree row for row, and each
conjunct must bind the column and direction its threshold field names."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from isimip_qa_spark.functions.langid import LANG_ORDER
from isimip_qa_spark.functions.qa_fused import SCORE_COLS, _fused_series
from isimip_qa_spark.functions.textstats import keep_sql
from isimip_qa_spark.plans.config import QAConfig
from isimip_qa_spark.plans.sink import _keep_series
from isimip_qa_spark.plans.stages import _decision

# (rule column, threshold field), written out independently of the table:
# a min_ field keeps column >= threshold, a max_ field column <= threshold
CONJUNCTS = [
    ("n_words", "min_words"),
    ("n_words", "max_words"),
    ("mean_word_len", "min_mean_word_len"),
    ("mean_word_len", "max_mean_word_len"),
    ("symbol_ratio", "max_symbol_ratio"),
    ("distinct_word_ratio", "min_distinct_word_ratio"),
    ("stopword_ratio", "min_stopword_ratio"),
    ("ellipsis_count", "max_ellipsis"),
    ("dup_line_frac", "max_dup_line_frac"),
    ("dup_para_frac", "max_dup_para_frac"),
    ("dup_2gram_frac", "max_dup_2gram_frac"),
    ("repl_n", "max_repl_chars"),
    ("mojibake_n", "max_mojibake"),
    ("ctrl_frac", "max_ctrl_frac"),
    ("bullet_line_frac", "max_bullet_line_frac"),
    ("ellipsis_line_frac", "max_ellipsis_line_frac"),
    ("alpha_word_frac", "min_alpha_word_frac"),
]

# rows the clean synthetic corpus never produces, so every max_ conjunct
# has something above its median to trip
PLANTED = [
    "the cat sat � on the mat",
    "the cafÃ© is open",
    "the bell\x07rang",
    "- the first\n- the second\n* the third",
    "and then...\nthe end...\nof the story",
    "the same line\nthe same line\nthe same line",
    "the para\n\nthe para\n\nthe para",
    "the ... wait ... for ... it ... and ... then ... more ...",
]


def _inert() -> dict:
    """Every threshold field at a value no row can trip."""
    return {
        f: -math.inf if f.startswith("min_") else math.inf
        for _, f in CONJUNCTS
    }


def _ok(col: pd.Series, field: str, t) -> pd.Series:
    col = col.astype(float)
    return col >= t if field.startswith("min_") else col <= t


@pytest.fixture(scope="module")
def stats(pages_pdf):
    texts = pd.concat(
        [pages_pdf["text"], pd.Series(PLANTED), pd.Series([None, None])],
        ignore_index=True,
    )
    return _fused_series(texts)


def test_spark_and_sink_decisions_follow_the_table(spark, stats):
    valid = stats["lang_pred"].notna()
    med = {c: stats.loc[valid, c].astype(float).median() for c, _ in CONJUNCTS}
    open_gate = {"max_ppl": math.inf, "allowed_langs": tuple(LANG_ORDER)}

    cases = []  # (label, cfg, expected keep over the valid rows)
    for col, field in CONJUNCTS:
        cfg = QAConfig(**{**_inert(), **open_gate, field: med[col]})
        cases.append((field, cfg, _ok(stats[col], field, med[col])[valid]))

    profiles = (
        ("en", med["n_words"], -math.inf, -math.inf),
        ("de", -math.inf, med["stopword_ratio"], -math.inf),
        ("default", -math.inf, -math.inf, med["alpha_word_frac"]),
    )
    cfg = QAConfig(**{**_inert(), **open_gate, "lang_profiles": profiles})
    lp = stats["lang_pred"]
    want = stats["alpha_word_frac"] >= med["alpha_word_frac"]
    want[lp == "en"] = stats["n_words"].astype(float) >= med["n_words"]
    want[lp == "de"] = stats["stopword_ratio"] >= med["stopword_ratio"]
    cases.append(("lang_profiles", cfg, want[valid]))

    # every case evaluated in one select: a single Spark job
    df = spark.createDataFrame(stats, ", ".join(f"{c} {t}" for c, t in SCORE_COLS))
    for i, (_, cfg, _) in enumerate(cases):
        df = _decision(df, cfg).withColumnRenamed("keep", f"k{i}")
    got = df.select(*[f"k{i}" for i in range(len(cases))]).toPandas()

    # the DuckDB fold over the same rows, a language profile's thresholds
    # riding along as per-row columns
    duck = stats[list(dict.fromkeys(c for c, _ in CONJUNCTS))].copy()
    overrides = {}
    for f, (by_lang, fallback) in cfg.profile_thresholds().items():
        duck[f"p_{f}"] = lp.map(by_lang).fillna(fallback).astype(float)
        overrides[f] = f"p_{f}"
    names = {c: c for c, _ in CONJUNCTS}
    preds = [
        keep_sql(names, cfg, overrides if cfg.lang_profiles else None)
        for _, cfg, _ in cases
    ]
    con = duckdb.connect()
    con.register("s", duck.reset_index())
    sql = ", ".join(f"{p} AS k{i}" for i, p in enumerate(preds))
    got_sql = con.execute(f"SELECT {sql} FROM s ORDER BY index").df()

    for i, (label, cfg, want) in enumerate(cases):
        sink = _keep_series(stats, cfg)
        expr = got[f"k{i}"]
        assert expr[~valid].isna().all(), label  # NULL text: NULL ...
        assert not sink[~valid].any(), label  # ... and False in the sink
        assert (expr[valid].astype(bool) == sink[valid]).all(), label
        assert (sink[valid] == want).all(), label
        assert (got_sql[f"k{i}"][valid] == want).all(), label
        assert (~want).any(), f"{label} trips no row"


# Buffer-boundary cases for the kernel, which reads all docs of a batch from
# one byte buffer with no separator between them (each runs as a slice of a
# larger array: see the kernel_matches_stages fixture).
BUFFER_EDGES = {
    "null": ["one..", None, ".two"],
    "empty": ["one..", "", ".two", ""],
    "all_space": [" ", "   ", "a b"],
    "sliced": ["!the cat sat!", "?le chat?"],
    "dots_across_docs": ["it ends..", ".it starts", "...", "."],
    "toxic_term_across_docs": ["we say badw", "ord1 here", "and badword1 too"],
    # long words: the expression forms are slow on many tokens
    "doc_over_1mb": [("y" * 100_000 + " ") * 11 + "end..", ".next"],
}


@pytest.mark.parametrize("docs", BUFFER_EDGES.values(), ids=BUFFER_EDGES.keys())
def test_kernel_buffer_edges_match_unfused_stages(kernel_matches_stages, docs):
    kernel_matches_stages(docs)
