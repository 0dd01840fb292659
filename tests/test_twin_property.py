"""Property-based cross-engine parity for the remaining expr/SQL twin
pairs (URL canonicalization, host extraction, NFC normalization, Gopher
dup-fractions, 13-gram decontamination grams) — the companion of
tests/test_portable_hash_property.py, which caught a real short-doc
divergence in the shingle twin."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from isimip_qa_spark.functions.normalize import (
    normalize_text_expr,
    normalize_text_sql,
)
from isimip_qa_spark.functions.textstats import (
    _dup_frac,
    alpha_word_frac_expr,
    alpha_word_frac_sql,
    bullet_line_frac_expr,
    bullet_line_frac_sql,
    dup_2gram_frac_expr,
    dup_line_frac_expr,
    dup_para_frac_expr,
    ellipsis_line_frac_expr,
    ellipsis_line_frac_sql,
    rule_columns_sql,
    tokens_expr,
    tokens_sql,
)
from isimip_qa_spark.functions.urlops import (
    canonical_url_expr,
    canonical_url_sql,
    url_host_expr,
    url_host_sql,
)
from isimip_qa_spark.functions.fingerprint import shingles_expr
from isimip_qa_spark.queries.decontaminate import K, ngrams_sql

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# text with the separators the twins care about: spaces and newlines
_text = st.text(
    alphabet=st.one_of(
        st.characters(codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFF),
        st.sampled_from([" ", "\n"]),  # separators drawn often → "\n\n" runs emerge
    ),
    max_size=60,
)

# URLs: realistic composites plus arbitrary junk (the expr must not crash
# or diverge on malformed input — crawls contain both). Tab/CR/LF are drawn
# deliberately: the WHATWG step-0 strip is what keeps the `$`-anchored
# steps engine-portable (Java `$` matches before a trailing newline, RE2's
# does not), so the generator must reach those bytes
_url_part = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=33, max_codepoint=126),
        st.sampled_from(["\t", "\r", "\n"]),
    ),
    max_size=12,
)
_url = st.one_of(
    st.builds(
        lambda sch, host, port, path, q, frag: (
            f"{sch}://{host}{port}/{path}?{q}#{frag}"
        ),
        st.sampled_from(["http", "https", "HTTP", "ftp"]),
        st.from_regex(r"[A-Za-z0-9.-]{1,12}", fullmatch=True),
        st.sampled_from(["", ":80", ":443", ":8080"]),
        _url_part,
        st.from_regex(
            r"(utm_source=x|a=1|b=2|fbclid=z|ref=h)(&(utm_medium=y|c=3))?",
            fullmatch=True,
        ),
        _url_part,
    ),
    _url_part,
)


def _duck(values, expr_sql, colcast="VARCHAR"):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t (i BIGINT, text {colcast})")
    for i, t in enumerate(values):
        con.execute("INSERT INTO t VALUES (?, ?)", [i, t])
    return dict(con.execute(f"SELECT i, {expr_sql} FROM t ORDER BY i").fetchall())


def _spark_vals(spark, values, col):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(values)], "i long, text string"
    )
    return {r["i"]: r["v"] for r in df.select("i", col.alias("v")).collect()}


@given(urls=st.lists(_url, min_size=1, max_size=12))
@_SETTINGS
def test_canonical_url_parity(spark, urls):
    s = _spark_vals(spark, urls, canonical_url_expr(F.col("text")))
    d = _duck(urls, canonical_url_sql("text"))
    assert s == d


@given(urls=st.lists(_url, min_size=1, max_size=12))
@_SETTINGS
def test_url_host_parity(spark, urls):
    s = _spark_vals(spark, urls, url_host_expr(F.col("text")))
    d = _duck(urls, url_host_sql("text"))
    assert s == d


@given(texts=st.lists(_text, min_size=1, max_size=10))
@_SETTINGS
def test_normalize_text_parity(spark, texts):
    s = _spark_vals(spark, texts, normalize_text_expr(F.col("text")))
    d = _duck(texts, normalize_text_sql("text"))
    assert s == d


@given(texts=st.lists(_text, min_size=1, max_size=10))
@_SETTINGS
def test_dup_fraction_parity(spark, texts):
    r = rule_columns_sql("text")
    for expr, sql in [
        (dup_line_frac_expr(F.col("text")), r["dup_line_frac"]),
        (dup_para_frac_expr(F.col("text")), r["dup_para_frac"]),
        (dup_2gram_frac_expr(F.col("text")), r["dup_2gram_frac"]),
    ]:
        s = _spark_vals(spark, texts, expr)
        d = _duck(texts, sql)
        assert s == d


# format-rule twins: draw bullet glyphs, ellipses, digits, CJK and the
# tab/CR bytes the portable-pattern notes call out, so the anchored /
# suffix / negated-class semantics are actually reached
_fmt_text = st.text(
    alphabet=st.one_of(
        st.characters(codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFF),
        st.sampled_from(
            [" ", "\n", "\t", "\r", "-", "*", "•", ".", "…", "3", "汉"]
        ),
    ),
    max_size=60,
)


@given(texts=st.lists(_fmt_text, min_size=1, max_size=10))
@_SETTINGS
def test_format_rule_parity(spark, texts):
    for expr, sql in [
        (bullet_line_frac_expr(F.col("text")), bullet_line_frac_sql("text")),
        (
            ellipsis_line_frac_expr(F.col("text")),
            ellipsis_line_frac_sql("text"),
        ),
        (alpha_word_frac_expr(F.col("text")), alpha_word_frac_sql("text")),
    ]:
        s = _spark_vals(spark, texts, expr)
        d = _duck(texts, sql)
        assert s == d


@given(texts=st.lists(_text, min_size=1, max_size=8))
@_SETTINGS
def test_decontaminate_13gram_parity(spark, texts):
    s = _spark_vals(
        spark, texts, shingles_expr(tokens_expr(F.col("text")), k=K)
    )
    d = _duck(texts, ngrams_sql("string_split(text, chr(32))", K))
    assert {k: list(v) for k, v in s.items()} == d


# --- scrub: four backends (Java regex, Python re, Arrow RE2, DuckDB RE2) ---

_scrub_text = st.lists(
    st.one_of(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=10,
        ),
        st.sampled_from(
            ["badword1", "slur1", "a@b.com", "1.2.3.4", "+1 (23) 456-789"]
        ),
    ),
    max_size=6,
).map("".join)


@given(texts=st.lists(_scrub_text, min_size=1, max_size=12))
@_SETTINGS
def test_scrub_three_backend_parity(spark, texts):
    """scrub_expr (JVM regex), scrub_text (Python re — the contract
    oracle), scrub_arrow (Arrow RE2 — the fused kernel's engine) and
    scrub_oracle_sql (DuckDB RE2) must produce identical bytes on arbitrary
    ASCII-ish text: the engine-portable-subset claim (functions/scrub.py
    docstring), hammered instead of assumed."""
    import pyarrow as pa

    from isimip_qa_spark.functions.scrub import (
        scrub_arrow,
        scrub_expr,
        scrub_oracle_sql,
        scrub_text,
    )

    s = _spark_vals(spark, texts, scrub_expr(F.col("text")))
    d = _duck(texts, scrub_oracle_sql("text"))
    ar = dict(enumerate(scrub_arrow(pa.array(texts, pa.string())).to_pylist()))
    py = dict(enumerate(map(scrub_text, texts)))
    assert s == py
    assert d == py
    assert ar == py


# words for the BPE twin: include merge-list chars so replaces actually
# fire, plus arbitrary unicode and whitespace-class chars (the dotall +
# double-separator representation must agree on \n/\t symbols too)
_word = st.text(
    alphabet=st.one_of(
        st.sampled_from(list("erorinowstluap")),  # BPE_MERGES alphabet
        st.characters(codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFF),
        st.sampled_from(["\n", "\t"]),
    ),
    max_size=12,
).map(lambda w: w.replace(" ", ""))  # words are space-free by construction


@given(words=st.lists(_word, min_size=1, max_size=12))
@_SETTINGS
def test_bpe_len_parity(spark, words):
    """bpe_len_expr vs _bpe_len_sql on arbitrary words (incl. '', adjacent
    merge runs like 'erer', and newline/tab symbols)."""
    from isimip_qa_spark.queries.textmodel import _bpe_len_sql, bpe_len_expr

    s = _spark_vals(spark, words, bpe_len_expr(F.col("text")))
    d = _duck(words, _bpe_len_sql("text"))
    assert s == d


def test_langid_null_text_predicts_null(spark):
    """NULL text has NULL scores and predicts NULL on both engines, as in
    the kernel; the argmax chain alone would fall through to its last
    language."""
    from isimip_qa_spark.functions.langid import (
        LANG_ORDER,
        argmax_lang_sql,
        lang_pred_expr,
        lang_score_sql,
    )
    texts = [None, "the cat"]
    s = _spark_vals(spark, texts, lang_pred_expr(F.col("text")))
    d = _duck(texts, argmax_lang_sql(lambda lang: lang_score_sql(tokens_sql("lower(text)"), lang)))
    assert s == d == {0: None, 1: LANG_ORDER[0]}
