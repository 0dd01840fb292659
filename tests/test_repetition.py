"""Gopher repetition rules (dup line / paragraph / 2-gram fractions):
expression path == fused kernel == DuckDB twin on planted multi-line and
repetitive docs, and binding thresholds flip keep/drop in lockstep with the
independent pandas oracle."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from isimip_qa_spark.functions import textstats as ts
from isimip_qa_spark.functions.qa_fused import _fused_series
from isimip_qa_spark.plans.config import QAConfig

PLANTED = [
    "line one\nline two\nline one\nline three",  # dup line 1/4
    "para a\n\npara b\n\npara a",  # dup para 1/3 (+ dup lines)
    "spam ham " * 50 + "spam",  # dup 2-grams galore
    "the quick brown fox jumps over the lazy dog today",  # clean
    "",  # empty: 1 line, 1 token, 0 fracs
    "single",  # one token → degenerate gram
    "a\nb\n",  # trailing newline → trailing empty line
    "a\n\n\nb",  # '\n\n' then '\nb' — split semantics edge
    "x\nx\nx\nx\nx",  # all-dup lines 4/5
    "alpha beta alpha beta alpha beta gamma",  # dup 2-gram 3/6
]


@pytest.fixture(scope="module")
def planted_sdf(spark):
    rows = [
        (f"https://ex{i}.org/p", datetime.datetime(2024, 1, 1 + i), t, "en")
        for i, t in enumerate(PLANTED)
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    )


def _expr_frame(planted_sdf) -> pd.DataFrame:
    text = F.col("text")
    return (
        planted_sdf.select(
            "url",
            ts.dup_line_frac_expr(text).alias("dup_line_frac"),
            ts.dup_para_frac_expr(text).alias("dup_para_frac"),
            ts.dup_2gram_frac_expr(text).alias("dup_2gram_frac"),
        )
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


def test_expr_values_on_planted(planted_sdf):
    got = _expr_frame(planted_sdf).set_index("url")
    assert got.loc["https://ex0.org/p", "dup_line_frac"] == 0.25
    assert got.loc["https://ex1.org/p", "dup_para_frac"] == pytest.approx(1 / 3)
    assert got.loc["https://ex3.org/p", "dup_line_frac"] == 0.0
    assert got.loc["https://ex4.org/p", "dup_2gram_frac"] == 0.0
    assert got.loc["https://ex5.org/p", "dup_2gram_frac"] == 0.0
    assert got.loc["https://ex8.org/p", "dup_line_frac"] == 0.8
    assert got.loc["https://ex9.org/p", "dup_2gram_frac"] == 0.5
    # heavy bigram repetition: 100 grams, 3 distinct ('spam ham','ham spam',
    # 'ham spam'... actually {spam ham, ham spam}) → ~0.98
    assert got.loc["https://ex2.org/p", "dup_2gram_frac"] > 0.9


def test_fused_kernel_bit_identical_to_exprs(planted_sdf):
    expr = _expr_frame(planted_sdf)
    fused = _fused_series(pd.Series(PLANTED))
    urls = sorted(f"https://ex{i}.org/p" for i in range(len(PLANTED)))
    order = [urls.index(f"https://ex{i}.org/p") for i in range(len(PLANTED))]
    for col in ("dup_line_frac", "dup_para_frac", "dup_2gram_frac"):
        exp = expr[col].to_numpy()
        for i in range(len(PLANTED)):
            assert fused[col].iloc[i] == exp[order[i]], (col, i)


def test_duckdb_twin_on_planted():
    import duckdb

    from isimip_qa_spark.functions.textstats import rule_columns_sql

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(PLANTED)), "text": PLANTED}),
    )
    r = rule_columns_sql("text")
    sql = f"""
    SELECT doc_id,
           {r["dup_line_frac"]} AS dup_line_frac,
           {r["dup_para_frac"]} AS dup_para_frac,
           {r["dup_2gram_frac"]} AS dup_2gram_frac
    FROM documents ORDER BY doc_id
    """
    duck = con.execute(sql).df()
    fused = _fused_series(pd.Series(PLANTED))
    for col in ("dup_line_frac", "dup_para_frac", "dup_2gram_frac"):
        assert duck[col].tolist() == fused[col].tolist(), col


def test_binding_thresholds_flip_keep_with_pandas_oracle(spark, pages_sdf, tmp_path):
    """With Gopher's real 0.20 2-gram threshold the small-vocab corpus is
    mostly dropped; run_qa's decision must still match the independent
    pandas oracle doc-for-doc (the F1 contract is threshold-agnostic)."""
    from oracle.pandas_ref import qa_frame
    from isimip_qa_spark.plans.pipeline import read_scored, run_qa

    cfg = QAConfig(max_dup_2gram_frac=0.2, max_dup_line_frac=0.1)
    src, out = str(tmp_path / "pages"), str(tmp_path / "qa")
    pages_sdf.limit(400).write.parquet(src)
    sample = spark.read.parquet(src)
    run_qa(spark, sample, cfg, out)
    got = (
        read_scored(spark, out)
        .select("url", "keep", "dup_2gram_frac", "dup_line_frac")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    ref = qa_frame(sample.toPandas(), cfg).sort_values("url").reset_index(drop=True)
    assert len(got) == 400
    assert got["keep"].tolist() == ref["keep"].tolist()
    assert got["dup_2gram_frac"].tolist() == ref["dup_2gram_frac"].tolist()
    # the threshold actually bites on this corpus (median frac ≈ 0.64)
    assert (~ref["keep"]).mean() > 0.5
    # and is inert at defaults: neither repetition rule trips on these docs
    dflt = QAConfig()
    assert (got["dup_line_frac"] == 0.0).all()
    assert (got["dup_2gram_frac"] <= dflt.max_dup_2gram_frac).all()


# Line and paragraph splits at doc bounds: docs sit back to back in the
# kernel's buffer, so a newline ending one doc is adjacent to one starting
# the next.
LINE_EDGES = {
    "newlines_across_docs": ["a\n", "\nb", "a\n\n", "\n\nb"],
    "paragraphs_across_docs": ["p\n\nq\n\np", "\n\n", "p\n", "\np"],
    "lines_beside_null_and_empty": ["x\nx", None, "", "\n", "- a\n- a", "...\n..."],
}


@pytest.mark.parametrize("docs", LINE_EDGES.values(), ids=LINE_EDGES.keys())
def test_kernel_line_edges_match_unfused_stages(kernel_matches_stages, docs):
    kernel_matches_stages(docs)
