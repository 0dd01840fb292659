"""Property-based cross-engine parity for the portable hash contract.

The dedup/sampling/DSIR family's correctness against the DuckDB oracles
rests on three expression twins producing identical values on BOTH engines
for ARBITRARY web text — not just the driver fixtures. Hypothesis hammers
them with adversarial inputs (empty strings, runs of spaces, unicode,
control chars); any divergence here would silently make sample membership
/ shard placement / DSIR scores engine-dependent in production.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from isimip_qa_spark.functions import fingerprint as fp
from isimip_qa_spark.functions.fingerprint import (
    FNV_BASIS,
    FNV_PRIME,
    rolling_fingerprint_expr,
    rolling_fingerprint_sql,
    shingles_expr,
    shingles_sql,
)
from isimip_qa_spark.functions.grams import gram_hash_pairs
from isimip_qa_spark.functions.qa_fused import _fused_arrow
from isimip_qa_spark.functions.textstats import tokens_expr
from isimip_qa_spark.queries.dsir import (
    B,
    _flagged_counts,
    _ngram_buckets_expr,
    _ngram_buckets_sql,
    _score_kernel,
    _weights_expr,
)

# printable-ish web text: letters (incl. unicode), digits, spaces, a few
# control/format chars — no surrogates (not valid UTF-8 on either engine)
_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs",), max_codepoint=0x2FFFF
    ),
    max_size=80,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _duck(texts, expr_sql):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, text VARCHAR)")
    for i, t in enumerate(texts):
        con.execute("INSERT INTO t VALUES (?, ?)", [i, t])
    return dict(con.execute(f"SELECT i, {expr_sql} FROM t ORDER BY i").fetchall())


def _spark_vals(spark, texts, col):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    return {r["i"]: r["v"] for r in df.select("i", col.alias("v")).collect()}


@given(texts=st.lists(_text, min_size=1, max_size=12))
@_SETTINGS
def test_rolling_fingerprint_parity(spark, texts):
    s = _spark_vals(
        spark, texts, rolling_fingerprint_expr(tokens_expr(F.col("text")))
    )
    d = _duck(texts, rolling_fingerprint_sql("string_split(text, chr(32))"))
    assert s == d


@given(texts=st.lists(_text, min_size=1, max_size=8))
@_SETTINGS
def test_shingles_parity(spark, texts):
    s = _spark_vals(spark, texts, shingles_expr(tokens_expr(F.col("text"))))
    d = _duck(texts, shingles_sql("string_split(text, chr(32))"))
    assert {k: list(v) for k, v in s.items()} == d


@given(texts=st.lists(_text, min_size=1, max_size=8))
@_SETTINGS
def test_dsir_ngram_buckets_parity(spark, texts):
    s = _spark_vals(
        spark, texts, _ngram_buckets_expr(tokens_expr(F.col("text")))
    )
    d = _duck(texts, _ngram_buckets_sql("string_split(text, chr(32))"))
    assert {k: list(v) for k, v in s.items()} == d


@pytest.mark.parametrize(
    "t",
    ["", " ", "  ", "a  b", "日本語 テスト", "\xa0nbsp", "a b", "\x00nul"],
)
def test_known_edge_cases(spark, t):
    s = _spark_vals(
        spark, [t], rolling_fingerprint_expr(tokens_expr(F.col("text")))
    )
    d = _duck([t], rolling_fingerprint_sql("string_split(text, chr(32))"))
    assert s == d


# --- the Python kernels against their expression twins ---------------------

# a fixed dyadic DSIR model: every per-doc sum is exact in any order
_LR = ((np.arange(B, dtype=np.int64) * 7) % 33 - 16) / 1024.0


def _fnv64(tok: str) -> int:
    """FNV-1a 64 over code points, one Python step per character."""
    h = FNV_BASIS
    for c in tok:
        h = ((h ^ ord(c)) * FNV_PRIME) % 2**64
    return h


def _signed(h: int) -> int:
    return h - 2**64 if h >= 2**63 else h


def _simhash64_py(text: str | None) -> int:
    hs = [_fnv64(t) for t in (text or "").split(" ")]
    v = sum(
        1 << b for b in range(64) if sum(1 if h >> b & 1 else -1 for h in hs) > 0
    )
    return _signed(v)


def _grams_py(text: str | None, k: int) -> list[int]:
    hs = [_fnv64(t) for t in (text or "").split(" ")]
    out = set()
    for i in range(max(len(hs) - k, 0) + 1):
        g = FNV_BASIS
        for h in hs[i : i + k]:
            g = ((g ^ h) * FNV_PRIME) % 2**64
        out.add(_signed(g))
    return sorted(out)


@given(texts=st.lists(_text, min_size=1, max_size=8))
@_SETTINGS
def test_kernels_equal_their_twins(spark, texts):
    """minhash bands and audit, simhash at 16 and 28 bits and the DSIR
    scoring kernel equal their expression twins in one select; simhash64
    and the gram hashes equal a pure-Python FNV fold. A NULL row rides in
    every example."""
    texts = texts + [None]
    text = F.col("text")
    hashes = F.transform(shingles_expr(tokens_expr(text)), fp.token_hash_expr)
    n_grams, lw = _weights_expr(text, _LR)
    cols = {
        "bands": fp.minhash_bands_udf(text),
        "e_bands": fp.band_keys_expr(F.col("e_sig")),
        "audit": fp.minhash_audit_udf(text),
        "sim16": fp.simhash_udf(text, 16),
        "e_sim16": fp.simhash_expr(tokens_expr(text), 16),
        "sim28": fp.simhash_udf(text, 28),
        "e_sim28": fp.simhash_expr(tokens_expr(text), 28),
        "sim64": fp.simhash64_udf(text),
        "dsir": F.pandas_udf(_score_kernel(_LR), "n_grams long, logweight double")(text),
        "e_n_grams": n_grams,
        "e_logweight": lw,
    }
    rows = (
        spark.createDataFrame(list(enumerate(texts)), "i long, text string")
        .select("i", "text", F.array_sort(F.array_distinct(hashes)).alias("e_shs"))
        # the signature over the distinct hashes is the signature over all
        # of them; projecting it first keeps each band fold from inlining
        # all 64 minima
        .select("*", fp.minhash_sig_expr(F.col("e_shs")).alias("e_sig"))
        .select("i", "e_shs", "e_sig", *[c.alias(k) for k, c in cols.items()])
        .orderBy("i")
        .collect()
    )
    for r, t in zip(rows, texts):
        assert r["bands"] == r["e_bands"], t
        assert r["audit"]["sig"] == r["e_sig"], t
        assert r["audit"]["shs"] == r["e_shs"], t
        assert r["sim16"] == r["e_sim16"], t
        assert r["sim28"] == r["e_sim28"], t
        assert r["sim64"] == _simhash64_py(t), t
        assert (r["dsir"]["n_grams"], r["dsir"]["logweight"]) == (
            r["e_n_grams"],
            r["e_logweight"],
        ), t

    gd, gh = gram_hash_pairs(pd.Series(texts, dtype=object), 3)
    for i, t in enumerate(texts):
        assert gh[gd == i].tolist() == _grams_py(t, 3), t


def test_kernels_take_an_empty_batch():
    """A batch with no rows goes through every kernel and yields no rows."""
    empty = pd.Series([], dtype=object)
    assert len(fp.minhash_band_keys_series(empty)) == 0
    assert len(fp.minhash_audit_series(empty)) == 0
    assert len(fp.simhash_series(empty)) == 0
    assert len(fp.simhash64_series(empty)) == 0
    assert all(len(a) == 0 for a in gram_hash_pairs(empty, 13))
    assert len(_score_kernel(_LR)(empty)) == 0
    assert _flagged_counts(np.zeros(0, dtype=bool), empty)[["target_cnt", "raw_cnt"]].sum().sum() == 0
    assert _fused_arrow(pa.array([], type=pa.string())).num_rows == 0
