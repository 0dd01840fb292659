"""Multi-scope grid orchestration: 2 windows × 2 cohorts with per-combo
manifest skip, capability pruning, and kill-mid-grid resume (the reference's
planning loop semantics, /root/reference/isimip_qa/main.py:115-128)."""

from __future__ import annotations

import pytest

from isimip_qa_spark.plans import QAConfig, run_grid
from isimip_qa_spark.plans.grid import combo_label, plan_grid

WINDOWS = [None, ("2024-01-01 00:00:00", "2024-01-10 00:00:00")]
COHORTS = [("en", "es"), ("fr",)]


def _cfg():
    return QAConfig(n_chunks=2, n_partitions=4)


def test_plan_grid_capability_prune():
    combos = plan_grid(_cfg(), WINDOWS, COHORTS + [("ja",)])
    assert len(combos) == 6
    applicable = {label: ok for label, _, ok in combos}
    assert applicable[combo_label(None, ("en", "es"))]
    # 'ja' is outside allowed_langs → the combo can keep nothing: pruned
    assert not applicable[combo_label(None, ("ja",))]
    # scopes land in the config (the period/region analogues)
    cfgs = {label: c for label, c, _ in combos}
    assert cfgs[combo_label(WINDOWS[1], ("fr",))].window == WINDOWS[1]
    assert cfgs[combo_label(WINDOWS[1], ("fr",))].cohort_langs == ("fr",)


def test_grid_fetches_combos_from_shared_cache(spark, pages_sdf, tmp_path):
    """A second grid pointed at the first grid's output root fetches every
    completed combo chunk instead of recomputing."""
    base = _cfg()
    cache_root = str(tmp_path / "cacheroot")
    run_grid(spark, pages_sdf, base, [None], [("en",)], cache_root)

    out_root = str(tmp_path / "fresh")
    s = run_grid(
        spark, pages_sdf, base, [None], [("en",)], out_root,
        cache_base=cache_root,
    )
    combo = s["combos"][combo_label(None, ("en",))]
    assert combo["status"] == "fetched"
    assert combo["chunks_fetched"] == [0, 1]
    assert combo["chunks_run"] == []


def test_grid_runs_resumes_and_survives_kill(spark, pages_sdf, tmp_path, monkeypatch):
    out_root = str(tmp_path / "grid")
    base = _cfg()

    # --- first attempt: killed after the first combo completes -----------
    import isimip_qa_spark.plans.grid as grid_mod

    real_run_qa = grid_mod.run_qa
    calls = {"n": 0}

    def killing_run_qa(*a, **kw):
        if calls["n"] >= 1:
            raise RuntimeError("simulated driver kill")
        calls["n"] += 1
        return real_run_qa(*a, **kw)

    monkeypatch.setattr(grid_mod, "run_qa", killing_run_qa)
    with pytest.raises(RuntimeError, match="simulated driver kill"):
        run_grid(spark, pages_sdf, base, WINDOWS, COHORTS, out_root)
    monkeypatch.setattr(grid_mod, "run_qa", real_run_qa)

    # --- second attempt: only the 3 incomplete combos actually run -------
    summary = run_grid(spark, pages_sdf, base, WINDOWS, COHORTS, out_root)
    statuses = {k: v["status"] for k, v in summary["combos"].items()}
    assert sum(s == "resumed" for s in statuses.values()) == 1
    assert sum(s == "ran" for s in statuses.values()) == 3
    resumed = [k for k, s in statuses.items() if s == "resumed"]
    assert summary["combos"][resumed[0]]["chunks_run"] == []  # no recompute

    # --- third attempt: everything resumes, nothing recomputes -----------
    summary3 = run_grid(spark, pages_sdf, base, WINDOWS, COHORTS, out_root)
    assert all(v["status"] == "resumed" for v in summary3["combos"].values())
    assert all(v["chunks_run"] == [] for v in summary3["combos"].values())

    # scoped combos really scoped: the windowed-en/es combo saw fewer docs
    # (the full combo resumed with rows=0, so read its rows from the chunk
    # manifest it committed in attempt 1)
    from isimip_qa_spark.plans.checkpoint import read_manifest
    from isimip_qa_spark.plans.grid import combo_dir

    full_label = combo_label(None, ("en", "es"))
    full_cfg = {l: c for l, c, _ in plan_grid(base, WINDOWS, COHORTS)}[full_label]
    full_rows = sum(
        m["rows"]
        for m in read_manifest(combo_dir(out_root, full_label, full_cfg)).values()
    )
    win = summary["combos"][combo_label(WINDOWS[1], ("en", "es"))]
    assert 0 < win["rows"] < full_rows

    # grid manifest reflects the final state
    import json, os

    with open(os.path.join(out_root, "grid_manifest.json")) as f:
        assert set(json.load(f).values()) == {"resumed"}


def test_fetch_only_grid_submits_no_spark_job(spark, pages_sdf, tmp_path):
    """A grid fully satisfiable from cache_base submits zero Spark jobs:
    every combo is fetched, so nothing scans the corpus (the reference's
    exists()-skip, main.py:126-128)."""
    base = _cfg()
    cache_root = str(tmp_path / "cacheroot")
    run_grid(spark, pages_sdf, base, [None], [("en",)], cache_root)

    out_root = str(tmp_path / "fresh")
    sc = spark.sparkContext
    sc.setJobGroup("fetch-only-grid", "fetch-only-grid")
    try:
        s = run_grid(
            spark, pages_sdf, base, [None], [("en",)], out_root,
            cache_base=cache_root,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert s["combos"][combo_label(None, ("en",))]["status"] == "fetched"
    assert sc.statusTracker().getJobIdsForGroup("fetch-only-grid") == []
