"""Encoding-quality filter (queries/webtext.py:encoding_quality): every
signal recomputed by a pure-Python reference, and the zero-shuffle /
zero-Python plan shape."""

from __future__ import annotations

import re

import pytest

from isimip_qa_spark.queries.webtext import (
    MOJIBAKE_SEQS,
    encoding_quality,
)

_CTRL = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _plant(doc_id: int, text: str) -> str:
    m = doc_id % 5
    if m == 0:
        return text + " cafÃ© dâhiver"
    if m == 1:
        return text + " broken � decode"
    if m == 2:
        return text + " bell\x07bell"
    return text


def _py_ref(doc_id: int, text: str) -> dict:
    page = _plant(doc_id, text)
    repl_n = page.count("�")
    ctrl_n = len(_CTRL.findall(page))
    moji_n = sum(page.count(seq) for seq, _ in MOJIBAKE_SEQS)
    return {
        "n_chars": len(page),
        "repl_n": repl_n,
        "ctrl_n": ctrl_n,
        "mojibake_n": moji_n,
        "enc_keep": repl_n == 0
        and moji_n == 0
        and ctrl_n * 1000 < len(page),
    }


def test_signals_match_python_reference(spark, sf_dir):
    raw = {
        int(r["doc_id"]): r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    got = encoding_quality(spark, sf_dir).toPandas()
    assert len(got) == len(raw)
    branches_seen = set()
    for r in got.itertuples():
        want = _py_ref(r.doc_id, raw[r.doc_id])
        assert (
            r.n_chars,
            r.repl_n,
            r.ctrl_n,
            r.mojibake_n,
            bool(r.enc_keep),
        ) == (
            want["n_chars"],
            want["repl_n"],
            want["ctrl_n"],
            want["mojibake_n"],
            want["enc_keep"],
        ), f"doc {r.doc_id}"
        branches_seen.add(r.doc_id % 5)
    # every corruption branch (and the clean ones) is live in the fixture
    assert branches_seen == {0, 1, 2, 3, 4}
    # the planted branches actually flag
    flagged = got[~got["enc_keep"]]
    assert (flagged["doc_id"] % 5).isin([0, 1, 2]).all()
    assert ((got["doc_id"] % 5) == 0).sum() == (got["mojibake_n"] >= 2).sum()


def test_plan_is_one_projection(spark, sf_dir):
    plan = (
        encoding_quality(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    # "*(1)" is executedPlan().toString()'s whole-stage-codegen stage
    # marker: the whole query is one codegen span over the scan
    assert "*(1)" in plan and "*(2)" not in plan


def test_keep_gate_trips_on_planted_corruption(spark):
    """keep_expr with DEFAULT thresholds drops a document for each
    encoding signal while the identical clean text is kept — the
    binding-threshold proof that the gate is live, not decorative."""
    from pyspark.sql import functions as F

    from isimip_qa_spark.functions import textstats as ts

    words = []
    for i in range(60):
        words.append("the" if i % 4 == 0 else f"word{i}")
    clean = " ".join(words) + "."
    rows = [
        ("clean", clean),
        ("ctrl", clean + " bell\x07bell"),
        ("repl", clean + " broken � decode"),
        ("moji", clean + " caf\u00c3\u00a9 d\u00e2\u0080\u0099hiver"),
    ]
    got = {
        r["k"]: bool(r["keep"])
        for r in spark.createDataFrame(rows, "k string, text string")
        .select("k", ts.keep_expr(F.col("text")).alias("keep"))
        .collect()
    }
    assert got == {
        "clean": True,
        "ctrl": False,
        "repl": False,
        "moji": False,
    }


# Multi-byte chars at doc bounds: a literal split over two adjacent docs of
# the kernel's buffer is not a match, and char counts stay per doc.
ENCODING_EDGES = {
    "multibyte_at_edges": ["中文", "é中", "…", "x …", "ü"],
    "mojibake_across_docs": ["cafÃ", "© ok", "the cafÃ© is", "dâ\u0080", "\u0099hiver"],
    "replacement_chars": ["a �..", ".� b", "��", None],
    "ctrl_at_edges": ["bell\x07", "\x07ring", "\t\r ok"],
}


@pytest.mark.parametrize("docs", ENCODING_EDGES.values(), ids=ENCODING_EDGES.keys())
def test_kernel_encoding_edges_match_unfused_stages(kernel_matches_stages, docs):
    kernel_matches_stages(docs)


def test_counted_literals_fit_per_token_counting():
    """The kernel counts U+FFFD, the mojibake sequences and the toxic terms
    per unique token and sums per doc. That equals str.count over the doc
    only if no literal holds a space (a match then lies inside one token)
    and none overlaps a copy of itself (so every match is a str.count
    match)."""
    from isimip_qa_spark.functions.scrub import TOXIC_TERMS
    from isimip_qa_spark.functions.textstats import REPL_CHAR

    for lit in [REPL_CHAR, *(s for s, _ in MOJIBAKE_SEQS), *TOXIC_TERMS]:
        assert " " not in lit
        assert not any(lit[:k] == lit[-k:] for k in range(1, len(lit))), lit
