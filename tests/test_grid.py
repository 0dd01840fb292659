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
    from isimip_qa_spark.plans import pipeline
    from isimip_qa_spark.plans.checkpoint import completed_chunks, read_manifest
    from isimip_qa_spark.plans.grid import combo_dir

    out_root = str(tmp_path / "grid")
    base = _cfg()
    cfgs = {l: c for l, c, _ in plan_grid(base, WINDOWS, COHORTS)}

    # --- first attempt: killed after the first combo is published --------
    publish = pipeline.mark_chunk_done
    calls = []

    def dies_after_first_combo(*args, **kw):
        calls.append(args[0])
        if len(calls) > base.n_chunks:
            raise RuntimeError("simulated driver kill")
        publish(*args, **kw)

    monkeypatch.setattr(pipeline, "mark_chunk_done", dies_after_first_combo)
    with pytest.raises(RuntimeError, match="simulated driver kill"):
        run_grid(spark, pages_sdf, base, WINDOWS, COHORTS, out_root)
    monkeypatch.undo()
    first = {l for l, c in cfgs.items() if completed_chunks(combo_dir(out_root, l, c))}
    assert len(first) == 1

    # --- second attempt: only the 3 unpublished combos actually run ------
    summary = run_grid(spark, pages_sdf, base, WINDOWS, COHORTS, out_root)
    statuses = {k: v["status"] for k, v in summary["combos"].items()}
    assert {k for k, s in statuses.items() if s == "resumed"} == first
    assert sum(s == "ran" for s in statuses.values()) == 3
    assert summary["combos"][first.pop()]["chunks_run"] == []  # no recompute

    # --- third attempt: everything resumes, nothing recomputes -----------
    summary3 = run_grid(spark, pages_sdf, base, WINDOWS, COHORTS, out_root)
    assert all(v["status"] == "resumed" for v in summary3["combos"].values())
    assert all(v["chunks_run"] == [] for v in summary3["combos"].values())

    # scoped combos really scoped: the windowed-en/es combo saw fewer docs
    # than the full-window one (read from the chunk manifests)
    def rows(label):
        man = read_manifest(combo_dir(out_root, label, cfgs[label]))
        return sum(m["rows"] for m in man.values())

    assert 0 < rows(combo_label(WINDOWS[1], ("en", "es"))) < rows(
        combo_label(None, ("en", "es"))
    )

    # grid manifest reflects the final state
    import json, os

    with open(os.path.join(out_root, "grid_manifest.json")) as f:
        assert set(json.load(f).values()) == {"resumed"}

    # --- a grid killed DURING its shared job: the combos it fetched from
    # the cache stay, every combo it computes reruns ----------------------
    cohorts = COHORTS + [("de",)]
    again_root = str(tmp_path / "grid_again")

    def job_dies(*args, **kw):
        raise RuntimeError("sink job failed")

    monkeypatch.setattr(pipeline, "qa_sink", job_dies)
    with pytest.raises(RuntimeError, match="sink job failed"):
        run_grid(spark, pages_sdf, base, WINDOWS, cohorts, again_root,
                 cache_base=out_root)
    monkeypatch.undo()
    for label, cfg, _ in plan_grid(base, WINDOWS, cohorts):
        done = completed_chunks(combo_dir(again_root, label, cfg))
        assert done == (set() if cfg.cohort_langs == ("de",) else {0, 1})
    rerun = run_grid(spark, pages_sdf, base, WINDOWS, cohorts, again_root,
                     cache_base=out_root)
    for label, cfg, _ in plan_grid(base, WINDOWS, cohorts):
        s = rerun["combos"][label]
        if cfg.cohort_langs == ("de",):
            assert (s["status"], s["chunks_run"]) == ("ran", [0, 1])
        else:
            assert (s["status"], s["chunks_run"]) == ("resumed", [])


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


OVERLAP_COHORTS = [("en", "es"), ("es", "fr")]


def _metric_sums(out_dir):
    import pyarrow.parquet as pq

    m = pq.read_table(f"{out_dir}/metrics").to_pandas()
    return m.drop(columns=["partition_id", "avg_ppl", "avg_words", "config_hash",
                           "ts_min", "ts_max"]).groupby("chunk").sum()


def test_overlapping_grid_is_one_sink_job_equal_to_independent_runs(
    spark, pages_sdf, tmp_path, monkeypatch, sink_jobs
):
    """Overlapping scopes (a window inside the whole corpus, cohorts sharing
    'es'): the grid submits exactly ONE sink job, with no Exchange, and each
    combo's scored rows, manifests and per-chunk metrics equal an
    independent run_qa of that combo."""
    import os

    import pandas as pd

    from isimip_qa_spark.plans import pipeline, run_qa
    from isimip_qa_spark.plans.checkpoint import read_manifest
    from isimip_qa_spark.plans.grid import combo_dir
    from isimip_qa_spark.plans.pipeline import read_scored

    base = _cfg()
    out_root = str(tmp_path / "grid")
    sink, plans = pipeline.qa_sink, []

    def spy(*args):
        plans.append(sink(*args))
        return plans[-1]

    monkeypatch.setattr(pipeline, "qa_sink", spy)
    summary, n_jobs = sink_jobs(
        lambda: run_grid(spark, pages_sdf, base, WINDOWS, OVERLAP_COHORTS, out_root),
        pages_sdf.rdd.getNumPartitions(),
    )
    monkeypatch.undo()
    assert n_jobs == 1 and len(plans) == 1
    assert "Exchange" not in plans[0]._jdf.queryExecution().executedPlan().toString()
    assert summary["n_ran"] == 4

    for label, cfg, _ in plan_grid(base, WINDOWS, OVERLAP_COHORTS):
        cdir = combo_dir(out_root, label, cfg)
        solo = str(tmp_path / "solo" / label)
        alone = run_qa(spark, pages_sdf, cfg, solo)
        assert summary["combos"][label]["rows"] == alone["rows"] > 0

        got = read_scored(spark, cdir).toPandas().sort_values("url")
        want = read_scored(spark, solo).toPandas().sort_values("url")
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), want.reset_index(drop=True)
        )
        man, man_solo = read_manifest(cdir), read_manifest(solo)
        assert sorted(man) == sorted(man_solo) == [0, 1]
        for c in man:
            for key in ("rows", "stages", "files", "config_hash"):
                assert man[c][key] == man_solo[c][key], (label, c, key)
            for fn in man[c]["files"]:  # same layout, same row order
                with open(os.path.join(cdir, "data", f"chunk={c}", fn), "rb") as f:
                    a = f.read()
                with open(os.path.join(solo, "data", f"chunk={c}", fn), "rb") as f:
                    assert a == f.read(), (label, c, fn)

        sums, sums_solo = _metric_sums(cdir), _metric_sums(solo)
        pd.testing.assert_frame_equal(
            sums.drop(columns="ppl_sum"), sums_solo.drop(columns="ppl_sum")
        )
        assert sums["ppl_sum"].to_numpy() == pytest.approx(
            sums_solo["ppl_sum"].to_numpy(), rel=1e-12
        )


def test_grid_computes_exactly_each_combos_missing_chunks(spark, pages_sdf, tmp_path):
    """One partly done combo beside a fresh one: the shared job computes
    the partial combo's missing chunk only (its published chunk keeps its
    files) and every chunk of the fresh combo."""
    import os

    from isimip_qa_spark.plans import run_qa
    from isimip_qa_spark.plans.checkpoint import chunk_path, read_manifest
    from isimip_qa_spark.plans.grid import combo_dir

    base = _cfg()
    out_root = str(tmp_path / "grid")
    run_grid(spark, pages_sdf, base, [None], [("en", "es")], out_root)
    cfgs = {l: c for l, c, _ in plan_grid(base, [None], OVERLAP_COHORTS)}
    partial = combo_label(None, ("en", "es"))
    pdir = combo_dir(out_root, partial, cfgs[partial])
    os.remove(os.path.join(pdir, "_manifest", "chunk_1.json"))

    def stats(chunk):
        d = chunk_path(pdir, chunk)
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    before = stats(0)
    summary = run_grid(spark, pages_sdf, base, [None], OVERLAP_COHORTS, out_root)
    s = summary["combos"]
    assert (s[partial]["status"], s[partial]["chunks_run"]) == ("partial_resume", [1])
    assert s[partial]["chunks_skipped"] == [0]
    fresh = combo_label(None, ("es", "fr"))
    assert (s[fresh]["status"], s[fresh]["chunks_run"]) == ("ran", [0, 1])
    assert stats(0) == before

    for label, cfg in cfgs.items():
        solo = str(tmp_path / "solo" / label)
        run_qa(spark, pages_sdf, cfg, solo)
        man, man_solo = read_manifest(combo_dir(out_root, label, cfg)), read_manifest(solo)
        assert {c: (m["rows"], m["files"]) for c, m in man.items()} == {
            c: (m["rows"], m["files"]) for c, m in man_solo.items()
        }


def test_one_job_rejects_targets_differing_beyond_scope(spark, pages_sdf, tmp_path):
    """One shared job scores each row once, so its targets must share every
    config field but the scopes."""
    from isimip_qa_spark.plans.pipeline import run_targets

    targets = [(_cfg(), str(tmp_path / "a"), None),
               (QAConfig(n_chunks=2, n_partitions=4, min_words=10), str(tmp_path / "b"), None)]
    with pytest.raises(ValueError, match="window and cohort_langs"):
        run_targets(spark, pages_sdf, targets)
