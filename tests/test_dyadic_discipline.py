"""The dyadic-discipline sweep (VERDICT r4 'Next round' #1).

Round 4 proved the risk class is real: a summation-order ULP landed a
group mean exactly on a round-6 boundary (lang_quality_rollup at
sf0.001). Cross-engine float parity for `round(<float agg>, 6)` oracle
columns therefore needs one of:

  dyadic-quantized   accumulands floor-quantized to 1/2^20 (or coarser
                     dyadics) BEFORE the sum on both engines — the sum is
                     exact in any order, the mean one IEEE division of
                     identical operands;
  int-ratio-exact    exact integer sums, ONE final IEEE division;
  dyadic-sum-exact   accumulands already dyadic by construction
                     (quantized logprobs, 1/2^QD-quantized JS terms);
  boundary-asserted  accumulation genuinely non-dyadic (ln/log2/exp libm
                     terms) — a test here asserts the UNROUNDED value sits
                     nowhere near a round-6 boundary at every shipped sf.

The first test is the grep-able inventory: every `round(avg|sum(...))`
in a registered oracle must be classified below, so an unaudited float
aggregate cannot land silently. The remaining tests are the
boundary-distance assertions for the `boundary-asserted` rows.
"""

from __future__ import annotations

import os
import re
from decimal import Decimal
from pathlib import Path

import pytest

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]

# query name -> parity class for its round(avg|sum(...)) oracle columns.
# Adding a new float aggregate without classifying it here fails the
# inventory test; classifying it `boundary-asserted` without a probe
# below fails review by construction (the class list is this module).
FLOAT_AGG_CLASSES = {
    "bpe_fertility": "int-ratio-exact",  # int64 sums, one final division
    "knn_label_accuracy": "int-ratio-exact",
    "host_reputation": "boundary-asserted",  # keep_rate itself is
    # int-ratio-exact; the docs-weighted corpus rate sums n_docs*keep_rate
    # products (non-dyadic) — probed in test_host_reputation_boundary
    "lang_quality_rollup": "dyadic-quantized",  # 1/2^20 pre-quantized
    "embed_norm_stats": "dyadic-quantized",  # 1/2^20 pre-quantized (r5)
    "source_divergence": "dyadic-sum-exact",  # JS terms 1/QD-quantized,
    # each clear of its round-half point (test_source_divergence_terms_...)
    "ppl_stupid_backoff": "boundary-asserted",  # avg_logprob is a
    # dyadic-sum-exact ratio; per-row ppl = exp(-avg) floats a libm ulp —
    # probed in test_exp_ppl_rows_clear_of_round6_boundaries
    "dsir_kl": "boundary-asserted",  # ln-term sums — probed below
    "domain_diversity": "boundary-asserted",  # entropy/HHI terms are
    # QD-quantized (dyadic-sum-exact) since the r5 sweep caught the
    # unquantized norm_entropy 8.5e-10 from a boundary at sf0.01; each term
    # is probed clear of its round-half point, and the one remaining libm op
    # (÷ log2(n_sources)) is probed below
}

_ROUND_AGG = re.compile(r"round\s*\(\s*-?\s*(?:avg|sum)\s*\(", re.I)


def _oracles():
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from isimip_qa_spark.queries import ORACLES, load_all

    load_all()
    return ORACLES


def _duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _boundary_distance(x: float) -> float:
    """Exact distance of x to the nearest round-6 decision boundary
    (the half-grid points k + 1/2 in units of 1e-6), via Decimal so the
    probe itself adds no float error."""
    y = Decimal(x) * 10**6  # Decimal(float) is exact
    frac = y - int(y.to_integral_value(rounding="ROUND_FLOOR"))
    return float(abs(frac - Decimal("0.5"))) * 1e-6


def test_round_float_agg_oracles_are_classified():
    """Grep-able inventory: the set of oracles containing a
    round(avg|sum(...)) float aggregate must equal the classified set."""
    hits = {n for n, sql in _oracles().items() if _ROUND_AGG.search(sql)}
    assert hits == set(FLOAT_AGG_CLASSES), (
        "unclassified float aggregates (classify in FLOAT_AGG_CLASSES and "
        f"add a boundary probe if non-dyadic): {hits ^ set(FLOAT_AGG_CLASSES)}"
    )


def test_quantized_twins_actually_quantize():
    """The two dyadic-quantized rows must keep the floor(x * 2^20)
    pre-quantization in their SQL twin (regression guard for the pattern
    itself — losing it reopens the round-4 ULP bug)."""
    oracles = _oracles()
    for name in ("lang_quality_rollup", "embed_norm_stats"):
        assert "floor(" in oracles[name] and "1048576" in oracles[name], name


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_dsir_kl_clear_of_round6_boundaries(sf_dir):
    """The dsir_kl ln-sums carry ~1e-12 cross-engine jitter; round-6
    absorbs it only while the unrounded value sits >= 1e-9 from a
    boundary. Assert that at every shipped sf via the prec-12 twin."""
    from isimip_qa_spark.queries.dsir import _kl_sql

    con = _duck(sf_dir)
    kl_sel, kl_raw = con.execute(_kl_sql(12)).fetchone()
    for v in (kl_sel, kl_raw):
        assert _boundary_distance(v) > 1e-9, (sf_dir, v)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_domain_diversity_clear_of_round6_boundaries(sf_dir):
    """entropy_bits and hhi sum QD-quantized dyadics (exact in any order;
    the quantization presence is asserted), so the only libm op left is
    norm_entropy's single division by log2(n_sources) — a ≤1-ulp (~1e-16)
    cross-engine exposure. Probe its prec-12 value's boundary distance at
    1e-12 (10⁴× the exposure); every `, 6)` in this oracle is a
    final-column round, so the precision swap is semantics-preserving."""
    oracle = _oracles()["domain_diversity"]
    assert "1048576) / 1048576" in oracle  # QD-quantized accumulands
    assert oracle.count(", 6)") == 4  # all four are final rounds
    con = _duck(sf_dir)
    row = con.execute(oracle.replace(", 6)", ", 12)")).df().iloc[0]
    assert _boundary_distance(float(row["norm_entropy"])) > 1e-12, (
        sf_dir,
        float(row["norm_entropy"]),
    )


# a QD term is round(x) / QD with x = term * QD computed through libm log2,
# so the quantized dyadic is engine-exact only while x sits well clear of
# a round-half point (k + 1/2): a ≤1-ulp log2 difference between engines
# moves x by a few ulps. Measured minima over the shipped sfs: 2.3e8 ulps
# (domain_diversity), 2.6e10 ulps (source_divergence).
MIN_HALF_GRID_ULPS = 1 << 10


def _half_grid_ulps(xs) -> float:
    """Smallest distance of any x in xs to the nearest k + 1/2, in ulps of
    that x (exact via Decimal)."""
    import numpy as np

    out = np.inf
    for x in xs:
        d = Decimal(x)
        frac = d - d.to_integral_value(rounding="ROUND_FLOOR")
        out = min(out, float(abs(frac - Decimal("0.5"))) / np.spacing(abs(x)))
    return out


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_domain_diversity_terms_clear_of_half_grid(sf_dir):
    """Per-term grid-distance probe: every entropy accumuland
    share*log2(share)*2^20 sits far more than 1 ulp from a round-half
    point, so both engines quantize it to the same dyadic. (The HHI term
    share*share*2^20 has no libm op and is correctly rounded on both.)"""
    oracle = _oracles()["domain_diversity"]
    assert "round(share * log2(share) * 1048576) / 1048576 AS e_t" in oracle
    probe = (
        oracle[: oracle.index("SELECT count(*)")]
        + "SELECT share * log2(share) * 1048576 AS x FROM p"
    )
    xs = _duck(sf_dir).execute(probe).df()["x"]
    assert len(xs) > 1
    assert _half_grid_ulps(xs) > MIN_HALF_GRID_ULPS, sf_dir


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_source_divergence_terms_clear_of_half_grid(sf_dir):
    """The same probe over every source_divergence JS term (each
    (source, token) cell's contribution * 2^20, before its round)."""
    oracle = _oracles()["source_divergence"]
    head = oracle[: oracle.index("SELECT source,\n           max(n_s)")]
    probe = head.replace("round((", "((", 1).replace(
        ") * 1048576) / 1048576 AS t", ") * 1048576) AS t"
    )
    # a drifted oracle text would no-op a replace and probe rounded terms
    assert probe.count("round(") == head.count("round(") - 1
    assert ") * 1048576) AS t" in probe
    xs = _duck(sf_dir).execute(probe + "SELECT t FROM terms").df()["t"]
    assert len(xs) > 1
    assert _half_grid_ulps(xs) > MIN_HALF_GRID_ULPS, sf_dir


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_host_reputation_boundary(sf_dir):
    """The flagged threshold is round-6 of sum(n_docs * keep_rate) /
    sum(n_docs) — keep_rate is round-6-exact, but the product sum is
    order-sensitive. Recompute the weighted mean from the per-source rows
    and assert it sits >= 1e-9 from a round-6 boundary; also assert no
    source's keep_rate ties the corpus rate at the 6th decimal (a tie
    would make `flagged` hang on the rate's own rounding)."""
    import numpy as np

    oracle = _oracles()["host_reputation"]
    con = _duck(sf_dir)
    rates = con.execute(
        f"SELECT n_docs, keep_rate FROM ({oracle})"
    ).df()
    n = rates["n_docs"].to_numpy(dtype=np.float64)
    k = rates["keep_rate"].to_numpy(dtype=np.float64)
    corpus = float((n * k).sum() / n.sum())
    assert _boundary_distance(corpus) > 1e-9, (sf_dir, corpus)
    corpus_r6 = round(corpus, 6)
    assert not np.any(np.isclose(k, corpus_r6, rtol=0, atol=5e-13)), sf_dir


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_exp_ppl_rows_clear_of_round6_boundaries(sf_dir):
    """Per-row ppl = exp(-avg_logprob): avg_logprob is dyadic-sum-exact
    (bit-identical cross-engine), but exp is a libm call — Java Math.exp
    and DuckDB's C exp may differ by one ulp on identical input. A 1-ulp
    flip changes round-6 output only if exp's value sits within ~1 ulp of
    a boundary; assert every shipped row clears 4 ulps, for both per-row
    ppl families (perplexity kernel and ppl_stupid_backoff). The corpora
    are frozen, so this is a deterministic audit, not a flaky bound."""
    import numpy as np

    con = _duck(sf_dir)
    oracles = _oracles()
    avgs = []
    # stupid-backoff: pull the dyadic-exact prec-12 avg_logprob per doc
    sb = oracles["ppl_stupid_backoff"].replace(
        "round(sum(lp) / count(*), 6)", "round(sum(lp) / count(*), 12)"
    )
    # a drifted oracle text would no-op the replace and probe round-6
    # values, which clear the bound vacuously
    assert ", 12)" in sb
    avgs.append(
        con.execute(f"SELECT avg_logprob FROM ({sb})").df()["avg_logprob"]
    )
    # unigram-backoff kernel family (perplexity / ppl_terciles): the
    # kernel's avg is the same dyadic sum the perplexity oracle computes
    if "perplexity" in oracles:
        p = oracles["perplexity"]
        if "avg_logprob" in p:
            avgs.append(
                con.execute(f"SELECT avg_logprob FROM ({p})").df()[
                    "avg_logprob"
                ]
            )
    for series in avgs:
        a = series.to_numpy(dtype=np.float64)
        x = np.exp(-a)
        dist = np.array([_boundary_distance(v) for v in x])
        assert (dist > 4 * np.spacing(x)).all(), (
            sf_dir,
            x[dist <= 4 * np.spacing(x)][:5],
        )
