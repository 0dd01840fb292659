"""Window-fused grid (VERDICT r2 #4): corpus scan/score job count equals
n_windows, not n_combos; per-combo manifests/metrics/lineage unchanged in
shape and equal in totals to independent per-combo runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from isimip_qa_spark.plans import QAConfig
from isimip_qa_spark.plans.grid import (
    combo_dir,
    combo_label,
    plan_grid,
    read_combo_scored,
    run_grid_fused,
)

WINDOWS = [None, ("2024-01-01 00:00:00", "2024-01-10 00:00:00")]
COHORTS = [("en", "es"), ("fr",)]


def _cfg():
    return QAConfig(n_chunks=2, n_partitions=4)


def test_fused_grid_one_scan_per_window(spark, pages_sdf, tmp_path, monkeypatch):
    import isimip_qa_spark.plans.grid as grid_mod

    base = _cfg()
    out_root = str(tmp_path / "fused")
    calls = {"n": 0}
    real_run_qa = grid_mod.run_qa

    def counting_run_qa(*a, **kw):
        calls["n"] += 1
        return real_run_qa(*a, **kw)

    monkeypatch.setattr(grid_mod, "run_qa", counting_run_qa)
    summary = run_grid_fused(spark, pages_sdf, base, WINDOWS, COHORTS, out_root)

    # the headline property: 4 combos, but only n_windows scan/score jobs
    assert len(summary["combos"]) == 4
    assert calls["n"] == len(WINDOWS)
    assert summary["n_window_jobs"] == len(WINDOWS)
    assert summary["n_ran"] == 4

    # per-combo manifests unchanged in shape: every chunk committed
    from isimip_qa_spark.plans.checkpoint import read_manifest

    cfgs = {l: c for l, c, _ in plan_grid(base, WINDOWS, COHORTS)}
    for label, cfg in cfgs.items():
        man = read_manifest(combo_dir(out_root, label, cfg))
        assert sorted(man) == [0, 1]
        assert all("metrics" in m and "files" in m for m in man.values())

    # combo totals equal an INDEPENDENT per-combo run (the unfused path)
    from isimip_qa_spark.plans.pipeline import run_qa

    label = combo_label(WINDOWS[1], ("en", "es"))
    cfg = cfgs[label]
    solo_dir = str(tmp_path / "solo")
    run_qa(spark, pages_sdf, cfg, solo_dir)
    solo = (
        spark.read.parquet(f"{solo_dir}/metrics")
        .agg(
            F.sum("n_docs").alias("d"),
            F.sum("n_keep").alias("k"),
            F.sum("ppl_sum").alias("p"),
        )
        .collect()[0]
    )
    fused = (
        spark.read.parquet(f"{combo_dir(out_root, label, cfg)}/metrics")
        .agg(
            F.sum("n_docs").alias("d"),
            F.sum("n_keep").alias("k"),
            F.sum("ppl_sum").alias("p"),
        )
        .collect()[0]
    )
    assert (fused["d"], fused["k"]) == (solo["d"], solo["k"])
    assert fused["p"] == pytest.approx(solo["p"], rel=1e-12)

    # the combo view: cohort predicate applied, no data copied per combo
    view = read_combo_scored(spark, combo_dir(out_root, label, cfg))
    langs = {r["lang"] for r in view.select("lang").distinct().collect()}
    assert langs <= {"en", "es"}
    assert view.count() == fused["d"]

    # resume: a second fused grid runs ZERO scan jobs and derives nothing
    calls["n"] = 0
    summary2 = run_grid_fused(spark, pages_sdf, base, WINDOWS, COHORTS, out_root)
    assert calls["n"] == 0
    assert all(v["status"] == "resumed" for v in summary2["combos"].values())
