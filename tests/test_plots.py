"""Figure sink (S11 analogue): QA run → metrics rollup → rendered figure
artifact, driver-side only (the reference's plot phase,
/root/reference/isimip_qa/mixins/plots.py:17-28)."""

from __future__ import annotations

import os

from isimip_qa_spark.plans import QAConfig, run_qa
from isimip_qa_spark.plots import metrics_rollup, render_rollup


def test_render_rollup_figure(spark, pages_sdf, tmp_path):
    out = str(tmp_path / "qa")
    cfg = QAConfig(n_chunks=2, n_partitions=4)
    run_qa(spark, pages_sdf, cfg, out)

    roll = metrics_rollup(out)
    assert [r["chunk"] for r in roll] == [0, 1]
    assert all(0.0 < r["keep_rate"] < 1.0 for r in roll)

    fig = render_rollup(out, str(tmp_path / "figs" / "rollup.svg"))
    assert os.path.exists(fig)
    with open(fig) as f:
        text = f.read()
    assert text.startswith("<svg")
    assert text.count('class="keep-bar"') == 2  # one bar per chunk
    assert "QA keep rate / perplexity per chunk" in text
    # data labels carry the actual rollup values
    for r in roll:
        assert f'data-chunk="{r["chunk"]}"' in text


def test_rollup_avg_ppl_exact(spark, pages_sdf, tmp_path):
    """VERDICT r2 #7: the rollup's avg_ppl must equal the DIRECT corpus
    aggregate (not a docs-weighted mean of rounded partials, which is
    biased when null-ppl rows are uneven across partitions)."""
    from pyspark.sql import functions as F

    from isimip_qa_spark.plans.pipeline import apply_stages, read_scored

    out = str(tmp_path / "qa")
    cfg = QAConfig(n_chunks=2, n_partitions=4)
    run_qa(spark, pages_sdf, cfg, out)

    roll = {r["chunk"]: r["avg_ppl"] for r in metrics_rollup(out)}
    direct = {
        r["chunk"]: r["m"]
        for r in read_scored(spark, out)
        .groupBy("chunk")
        .agg(F.avg("ppl").alias("m"))
        .collect()
    }
    assert set(roll) == set(direct)
    for c in roll:
        assert abs(roll[c] - direct[c]) <= 1e-12 * max(1.0, abs(direct[c])), c


def test_render_grid_svg_matches_golden_bytes(spark, pages_sdf, tmp_path):
    """Golden compare — the repo's analogue of the reference's perceptual
    plot regression (isimip_qa/tests/test_plots.py:48-56, SSIM over
    re-rendered PNGs): the SVG writer is seed-free and layout-stable, so
    the whole figure must reproduce BYTE-identically from the fixed
    2000-page source. Regenerate the golden (tests/golden/grid_golden.svg)
    only for an intentional figure change, by running this render and
    copying the output."""
    from isimip_qa_spark.plans.grid import run_grid
    from isimip_qa_spark.plots import render_grid

    golden_path = os.path.join(
        os.path.dirname(__file__), "golden", "grid_golden.svg"
    )
    with open(golden_path, "rb") as f:
        golden = f.read()

    out_root = str(tmp_path / "grid")
    cfg = QAConfig(n_chunks=2, n_partitions=4)
    windows = [None, ("2024-01-01 00:00:00", "2024-01-10 00:00:00")]
    cohorts = [("en", "es"), ("fr",)]
    run_grid(spark, pages_sdf, cfg, windows, cohorts, out_root)
    fig = render_grid(out_root, str(tmp_path / "figs" / "grid.svg"))
    with open(fig, "rb") as f:
        assert f.read() == golden


def test_render_grid_multi_panel(spark, pages_sdf, tmp_path):
    """VERDICT r2 #8: a grid run renders as a figs × rows × cols panel
    layout — one panel per (window × cohort) combo."""
    from isimip_qa_spark.plans.grid import run_grid
    from isimip_qa_spark.plots import grid_panels, render_grid

    out_root = str(tmp_path / "grid")
    cfg = QAConfig(n_chunks=2, n_partitions=4)
    windows = [None, ("2024-01-01 00:00:00", "2024-01-10 00:00:00")]
    cohorts = [("en", "es"), ("fr",)]
    run_grid(spark, pages_sdf, cfg, windows, cohorts, out_root)

    panels = grid_panels(out_root)
    assert len(panels) == 4  # one per combo
    assert {p["cohort"] for p in panels} == {"cohort=en-es", "cohort=fr"}

    fig = render_grid(out_root, str(tmp_path / "figs" / "grid.svg"))
    with open(fig) as f:
        text = f.read()
    assert text.count('class="panel"') == 4
    # every combo contributes its own bars
    assert text.count('class="keep-bar"') == 4 * 2  # 2 chunks per combo


def test_rollup_of_a_chunk_without_perplexity(spark, tmp_path):
    """A chunk whose docs all have NULL text has no perplexity (its ppl_n
    sums to 0): the rollup's avg_ppl is None, and the figure draws it as
    0."""
    from pyspark.sql import functions as F

    rows = [(f"https://null.example.org/p/{i}", None, "en", i) for i in range(20)]
    pages = spark.createDataFrame(rows, "url string, text string, lang string, i int")
    pages = pages.withColumn("warc_ts", F.timestamp_seconds(1704067200 + F.col("i"))).drop("i")
    out = str(tmp_path / "qa_null_text")
    run_qa(spark, pages, QAConfig(n_chunks=1, n_partitions=2), out)

    (roll,) = metrics_rollup(out)
    assert roll["chunk"] == 0 and roll["n_docs"] == 20
    assert roll["avg_ppl"] is None
    fig = render_rollup(out, str(tmp_path / "figs" / "rollup.svg"))
    with open(fig) as f:
        assert 'data-ppl="0.00"' in f.read()
