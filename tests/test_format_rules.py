"""Gopher §A1.1 document-format rules: bullet-line fraction,
ellipsis-line fraction, alphabetic-word fraction — binding-threshold
proofs (planted violations trip the DEFAULT gate), CJK safety of the
negated-ASCII wordlike class, and pure-Python reference parity.

Inertness on the synthetic corpora is measured, not assumed: the planted
76.0% keep-rate contract in tests/test_qa_pipeline.py runs against the
same gate and would fail if any kept doc flipped.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from isimip_qa_spark.functions import textstats as ts


def _clean_text(n: int = 60) -> str:
    words = ["the" if i % 4 == 0 else f"word{i}" for i in range(n)]
    return " ".join(words) + "."


def _vals(spark, rows, col):
    return {
        r["k"]: r["v"]
        for r in spark.createDataFrame(rows, "k string, text string")
        .select("k", col.alias("v"))
        .collect()
    }


def test_fraction_values_match_python_reference(spark):
    clean = _clean_text()
    bullet_doc = "\n".join(f"- item {i} of the list" for i in range(10))
    ell_doc = "\n".join(
        f"teaser {i} continues..." if i % 2 == 0 else f"line {i} ends."
        for i in range(10)
    )
    num_doc = " ".join(str(i) for i in range(40)) + " one two three"
    rows = [
        ("clean", clean),
        ("bullet", bullet_doc),
        ("ell", ell_doc),
        ("num", num_doc),
        ("empty", ""),
        ("cjk", " ".join("汉字文本" for _ in range(60))),
    ]

    bullet_re = re.compile(ts.BULLET_LINE_RE)
    wordlike_re = re.compile(ts.WORDLIKE_RE)

    def ref(t):
        lines = t.split("\n")
        toks = t.split(" ")
        return (
            sum(1 for ln in lines if bullet_re.match(ln)) / len(lines),
            sum(
                1
                for ln in lines
                if any(ln.endswith(s) for s in ts.ELLIPSIS_SUFFIXES)
            )
            / len(lines),
            sum(1 for x in toks if wordlike_re.search(x)) / len(toks),
        )

    got_b = _vals(spark, rows, ts.bullet_line_frac_expr(F.col("text")))
    got_e = _vals(spark, rows, ts.ellipsis_line_frac_expr(F.col("text")))
    got_a = _vals(spark, rows, ts.alpha_word_frac_expr(F.col("text")))
    for k, t in rows:
        rb, re_, ra = ref(t)
        assert got_b[k] == rb, (k, got_b[k], rb)
        assert got_e[k] == re_, (k, got_e[k], re_)
        assert got_a[k] == ra, (k, got_a[k], ra)


def test_keep_gate_trips_on_planted_format_violations(spark):
    """keep_expr with DEFAULT thresholds drops one planted violation per
    rule while the clean doc passes — the gate is live, not decorative."""
    clean = _clean_text()
    # >90% bullet lines, each line individually wordy enough that no other
    # rule trips first is NOT required — keep_expr is all-of, any trip drops
    bullet_doc = "\n".join(
        f"- {_clean_text(12)[:-1]}" for _ in range(12)
    )
    ell_doc = "\n".join(
        f"{_clean_text(12)[:-1]}..." for _ in range(12)
    )
    # 50 wordlike + 51 numeric tokens → alpha_word_frac ≈ 0.495 < 0.8,
    # while n_words stays in range and symbols/stopwords stay sane
    num_doc = _clean_text(50)[:-1] + " " + " ".join(
        str(i) for i in range(51)
    )
    rows = [
        ("clean", clean),
        ("bullet", bullet_doc),
        ("ell", ell_doc),
        ("num", num_doc),
    ]
    got = _vals(spark, rows, ts.keep_expr(F.col("text")))
    assert got == {
        "clean": True,
        "bullet": False,
        "ell": False,
        "num": False,
    }
    # and the specific rule is the one that bit (threshold comparison
    # against the planted fractions)
    th = ts.GopherThresholds()
    b = _vals(spark, rows, ts.bullet_line_frac_expr(F.col("text")))
    e = _vals(spark, rows, ts.ellipsis_line_frac_expr(F.col("text")))
    a = _vals(spark, rows, ts.alpha_word_frac_expr(F.col("text")))
    assert b["bullet"] > th.max_bullet_line_frac
    assert e["ell"] > th.max_ellipsis_line_frac
    assert a["num"] < th.min_alpha_word_frac


def test_source_rule_funnel_shape_and_plan(spark):
    """source_rule_funnel: every (source, rule) pair present, counts
    consistent with per-doc flags, and the physical plan carries exactly
    ONE exchange (the source hash-agg) — the corpus never shuffles as
    text, only as 16 longs per source."""
    import os

    from isimip_qa_spark.queries.webtext import source_rule_funnel

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    df = source_rule_funnel(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    rows = df.collect()
    sources = {r["source"] for r in rows}
    assert len(rows) == len(sources) * len(ts.rule_columns_sql("text"))
    for r in rows:
        assert 0 <= r["n_viol"] <= r["n_docs"]
        # tolerance, not equality: F.round is HALF_UP, Python round is
        # HALF_EVEN (the divergence test_sink_rounding pins), so an exact
        # twin would fail spuriously on an x.xxxxx5 ratio
        assert abs(r["viol_rate"] - r["n_viol"] / r["n_docs"]) <= 5e-7


def test_staged_rule_columns_equal_unstaged(spark):
    """rule_columns built over pre-staged split arrays produces the same
    values as the text-only form — the contract that lets gopher_rules /
    drop_attribution / source_rule_funnel share `_staged_rule_cols`
    while keep_expr stays single-expression. Exercised over the fixture
    corpus plus edge docs (empty, CJK, multi-line, corrupted)."""
    import os

    from isimip_qa_spark.catalog import read_table
    from isimip_qa_spark.queries.webtext import _staged_rule_cols

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    d = read_table(spark, sf, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [
            (9000001, ""),
            (9000002, " ".join("汉字" for _ in range(10))),
            (9000003, "- a\n- b\n- b\nplain..."),
            (9000004, "cafÃ© \x07 � 1 2 3"),
        ],
        "doc_id long, text string",
    )
    d = d.unionByName(extra)
    text = F.col("text")
    unstaged_cols = ts.rule_columns(text)
    unstaged = d.select(
        "doc_id", *[v.alias(k) for k, v in unstaged_cols.items()]
    )
    staged = _staged_rule_cols(d)
    a = {r["doc_id"]: r.asDict() for r in unstaged.collect()}
    b = {r["doc_id"]: r.asDict() for r in staged.collect()}
    assert a == b


def test_lang_profile_rules_plan_and_semantics(spark):
    """The profile gate broadcast-joins the 6-row dim (no corpus
    shuffle), en documents see the global thresholds exactly, and the
    looser non-en profiles recover documents the global gate drops —
    never the reverse (every profiled threshold is <= the global one on
    this fixture's profile table)."""
    import os

    from isimip_qa_spark.queries.webtext import lang_profile_rules

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    df = lang_profile_rules(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    rows = df.collect()
    assert rows
    diffs = 0
    for r in rows:
        if r["lang"] == "en":
            assert r["keep_global"] == r["keep_profile"], r
        if r["keep_global"] != r["keep_profile"]:
            # looser profile can only recover, never drop
            assert r["keep_profile"] and not r["keep_global"], r
            diffs += 1
    assert diffs > 0  # the profile gate is live on the fixture


def test_pipeline_with_lang_profiles_matches_reference(
    spark, pages_sdf, pages_pdf, tmp_path
):
    """The REAL pipeline with cfg.lang_profiles set agrees exactly with
    the pure-pandas reference under the same profiles (the keep/F1
    contract extended to the profile gate), and the profile gate is live
    — looser de/zh profiles recover documents the global gate drops."""
    from isimip_qa_spark.plans.config import QAConfig
    from isimip_qa_spark.plans.pipeline import read_scored, run_qa
    from oracle.pandas_ref import qa_frame

    profiles = (
        ("de", 10, 0.0, 0.5),
        ("zh", 10, 0.0, 0.5),
        ("default", 50, 0.01, 0.8),
    )
    cfg = QAConfig(lang_profiles=profiles)
    out = str(tmp_path / "qa_prof")
    run_qa(spark, pages_sdf, cfg, out)
    got = read_scored(spark, out).toPandas()
    oracle = qa_frame(pages_pdf.drop(columns=["html"]), cfg)
    merged = got.merge(
        oracle[["url", "keep"]], on="url", suffixes=("", "_o")
    )
    assert len(merged) == len(got)
    assert (merged["keep"] == merged["keep_o"]).all()
    n_prof = int(oracle["keep"].sum())
    n_glob = int(qa_frame(pages_pdf.drop(columns=["html"]))["keep"].sum())
    assert n_prof > n_glob


def test_cli_lang_profiles(spark, tmp_path, restore_session_conf):
    """--lang-profiles: inline and JSON-file specs parse (malformed specs
    fail before any compute), and an end-to-end CLI run under looser
    de/zh profiles keeps more documents than the global-gate run."""
    import json
    import os

    import numpy as np

    from isimip_qa_spark.cli import _parse_lang_profiles, main
    from isimip_qa_spark.sources.pages import pages_pandas

    assert _parse_lang_profiles(None) is None
    assert _parse_lang_profiles("de:10:0.0:0.5;default:50:0.01:0.8") == (
        ("de", 10, 0.0, 0.5),
        ("default", 50, 0.01, 0.8),
    )
    jpath = str(tmp_path / "prof.json")
    with open(jpath, "w") as fh:
        json.dump([["zh", 10, 0.0, 0.5]], fh)
    assert _parse_lang_profiles(jpath) == (("zh", 10, 0.0, 0.5),)
    with pytest.raises(SystemExit):
        _parse_lang_profiles("de:10:0.0")  # missing field
    with pytest.raises(SystemExit):
        _parse_lang_profiles("de:ten:0.0:0.5")  # non-numeric

    src = str(tmp_path / "pages")
    spark.createDataFrame(pages_pandas(np.arange(400))).write.parquet(src)
    out_g = str(tmp_path / "out_g")
    out_p = str(tmp_path / "out_p")
    base = ["--input", src, "--chunks", "2"]
    assert main(base + ["--output", out_g]) == 0
    assert (
        main(
            base
            + [
                "--output", out_p,
                "--lang-profiles", "de:10:0.0:0.5;zh:10:0.0:0.5",
            ]
        )
        == 0
    )
    kg = spark.read.parquet(os.path.join(out_g, "data")).filter("keep").count()
    kp = spark.read.parquet(os.path.join(out_p, "data")).filter("keep").count()
    assert kp > kg


def test_cjk_text_is_wordlike(spark):
    """The negated-ASCII wordlike class keeps CJK tokens alphabetic (the
    reason the rule is not an [A-Za-z] test): a pure-CJK doc scores
    alpha_word_frac == 1.0 and trips neither format rule."""
    rows = [("cjk", " ".join("汉字文本" for _ in range(60)))]
    assert _vals(spark, rows, ts.alpha_word_frac_expr(F.col("text")))[
        "cjk"
    ] == 1.0
    assert _vals(spark, rows, ts.bullet_line_frac_expr(F.col("text")))[
        "cjk"
    ] == 0.0
    assert _vals(spark, rows, ts.ellipsis_line_frac_expr(F.col("text")))[
        "cjk"
    ] == 0.0
