"""Backend-equivalence tests: the vectorized kernels must produce exactly
what the pure-column-expression twins produce (SURVEY.md §5's
golden-artifact mechanism applied to function backends)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_scrub_known_pii():
    from isimip_qa_spark.functions.scrub import scrub_text

    texts = [
        "mail a.b@c.org now",
        "call +1 (555) 123-4567 ok",
        "ip 10.0.0.1 end",
        "clean text",
    ]
    got = [scrub_text(t) for t in texts]
    assert got == [
        "mail <EMAIL> now",
        "call <PHONE> ok",
        "ip <IP> end",
        "clean text",
    ]


def test_kernel_scrubs_a_long_word_in_linear_time():
    """A 1 MB run of email-class characters next to a digit or an '@' is a
    scrub candidate. A backtracking engine rescans the run from every start
    position (quadratic: ~35 min for Python `re` at this size); the
    kernel's RE2 chain takes milliseconds. The wall bound is loose."""
    import time

    import pyarrow as pa

    from isimip_qa_spark.functions.qa_fused import _fused_arrow

    word = "y" * 1_000_000
    t0 = time.perf_counter()
    delta = _fused_arrow(pa.array([word + " 1", word + " a@b.org"])).column("scrub_delta")
    assert time.perf_counter() - t0 < 30
    assert delta.to_pylist() == [None, word + " <EMAIL>"]


def test_perplexity_dyadic_exactness():
    """avg_logprob is an exact dyadic mean: udf output == direct fsum."""
    import math

    from isimip_qa_spark.functions.perplexity import (
        MODEL, OOV_LOGPROB, _score_series,
    )

    texts = pd.Series(["the stream of data", "zzz qqq", "质量 过滤"])
    got = _score_series(texts)
    for t, row in zip(texts, got.itertuples(index=False)):
        toks = t.lower().split(" ")
        want = math.fsum(MODEL.get(w, OOV_LOGPROB) for w in toks) / len(toks)
        assert row.avg_logprob == want  # exact, not approx


def test_histogram_matches_numpy(spark, sf_dir):
    """The 2-pass histogram == np.histogram with 101 linspace edges (the
    reference's binning, histogram.py:37-59)."""
    from isimip_qa_spark.queries.reference_ops import histogram

    got = histogram(spark, sf_dir).toPandas().sort_values("bin")
    vals = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_extendedprice")
        .toPandas()["l_extendedprice"]
        .to_numpy()
    )
    counts, _ = np.histogram(vals, bins=np.linspace(vals.min(), vals.max(), 101))
    assert got["cnt"].tolist() == counts.tolist()


def test_minhash_jaccard_recall(pages_pdf):
    """MinHash signatures of the planted near-dup pairs collide in ≥1 band."""
    from isimip_qa_spark.functions.fingerprint import (
        LSH_BANDS, LSH_ROWS, MINHASH_COEFFS, MERSENNE31,
    )

    def shingles(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        }

    def tok_hash(s):
        return (
            len(s) * 2654435761 + ord(s[0]) * 40503 + ord(s[-1])
        ) % (2**31)

    def sig(t):
        hs = [tok_hash(s) for s in shingles(t)]
        return [
            min((h * a + b) % MERSENNE31 for h in hs) for a, b in MINHASH_COEFFS
        ]

    hit = 0
    pairs = [(i - 1, i) for i in range(97, 2000, 100)]
    for a, b in pairs:
        sa, sb = sig(pages_pdf["text"][a]), sig(pages_pdf["text"][b])
        bands = any(
            sa[i * LSH_ROWS : (i + 1) * LSH_ROWS] == sb[i * LSH_ROWS : (i + 1) * LSH_ROWS]
            for i in range(LSH_BANDS)
        )
        hit += bands
    assert hit == len(pairs)


def test_fused_equals_unfused(spark, pages_sdf, tmp_path):
    """run_qa's written rows (the sink's fused kernel and keep decision) ==
    the unfused expression stages on the same 300 docs, exactly."""
    from isimip_qa_spark.functions.qa_fused import SCORE_COLS
    from isimip_qa_spark.plans.config import QAConfig
    from isimip_qa_spark.plans.pipeline import apply_stages, read_scored, run_qa

    cfg = QAConfig()
    src, out = str(tmp_path / "pages"), str(tmp_path / "qa")
    pages_sdf.limit(300).write.parquet(src)
    sample = spark.read.parquet(src)
    run_qa(spark, sample, cfg, out)
    fused = read_scored(spark, out).toPandas().sort_values("url")
    plain = apply_stages(sample, cfg).toPandas().sort_values("url")
    assert len(fused) == len(plain) == 300
    for col in [*(c for c, _ in SCORE_COLS), "keep", "scrubbed", "text_scrubbed"]:
        assert fused[col].tolist() == plain[col].tolist(), col


@pytest.mark.parametrize(
    "docs",
    [
        # Unicode case mappings beside stop words: the kernel lowers with
        # Python str.lower, the langid and stop-word stages with JVM lower
        # (dotted capital I, final sigma, capital sharp s, a titlecase
        # digraph, a ligature, the Kelvin sign)
        [
            "İn the İ and İS",
            "ΟΔΟΣ der ΟΔΟΣ. die ΣΑΣ ς Σ",
            "STRAẞE und die Straße ẞ",
            "Ǆ ǅ ǆ la el de",
            "ﬁle the ﬁ of ﬁﬁ",
            "K und der K k",
            "THE AND OF İ K ﬁ ẞ Ǆ ΟΔΟΣ",
        ],
        # stop words listed by two languages ('la', 'de': es and fr) count
        # for both, so ties go to LANG_ORDER
        ["de la", "la", "de", "y de", "le de la", "de fuente lote de datos red"],
    ],
    ids=["unicode_case", "shared_stop_words"],
)
def test_kernel_language_edges_match_unfused_stages(kernel_matches_stages, docs):
    kernel_matches_stages(docs)


def test_minhash_udf_equals_expr(spark, pages_sdf):
    """Vectorized numpy minhash band keys == column-expression band keys."""
    from pyspark.sql import functions as F

    from isimip_qa_spark.functions.fingerprint import (
        band_keys_expr,
        minhash_bands_udf,
        minhash_sig_expr,
        shingles_expr,
        token_hash_expr,
    )

    sample = pages_sdf.limit(100)
    expr_side = sample.select(
        "url",
        band_keys_expr(
            minhash_sig_expr(
                F.transform(shingles_expr(F.split("text", " ")), token_hash_expr)
            )
        ).alias("e"),
    )
    udf_side = sample.select("url", minhash_bands_udf(F.col("text")).alias("u"))
    j = expr_side.join(udf_side, "url")
    assert j.filter(F.col("e") != F.col("u")).count() == 0



def test_simhash_kernel_equals_expr(spark, pages_sdf):
    """Vectorized numpy simhash == the fold-expression simhash, at both the
    default width and the dedup width."""
    from pyspark.sql import functions as F

    from isimip_qa_spark.functions import textstats as ts
    from isimip_qa_spark.functions.fingerprint import simhash_expr, simhash_udf

    sample = pages_sdf.limit(150)
    for bits in (16, 28):
        j = sample.select(
            simhash_expr(ts.tokens_expr(F.col("text")), bits).alias("e"),
            simhash_udf(F.col("text"), bits).alias("u"),
        )
        assert j.filter(F.col("e") != F.col("u")).count() == 0, bits
