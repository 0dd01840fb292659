"""Multi-scope orchestration: the reference's quadruple planning loop
(dataset × region × period × extraction, /root/reference/isimip_qa/main.py:115-128,
with the placeholder cartesian product /root/reference/isimip_qa/config.py:38-65),
recast as a (window × cohort) grid of QA runs.

Each combo is one `run_qa` invocation with its own output directory keyed by
the combo's config hash — the per-combo artifact-cache skip
(main.py:126-128) falls out of run_qa's chunk manifest: a completed combo
resumes in milliseconds without a scan, a half-finished combo re-runs only
its missing chunks, and a combo never started runs fully. A grid killed
mid-way therefore resumes with exactly the incomplete combos
(tests/test_grid.py kills after the first combo and asserts this).

Capability pruning (the reference's has_region/has_period predicates,
models.py:139-145): a cohort whose languages are all outside
cfg.allowed_langs can keep nothing — the combo is planned but marked
inapplicable and skipped before any job is submitted.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .checkpoint import completed_chunks
from .config import QAConfig
from .pipeline import run_qa
from .skew import detect_hot_hosts  # noqa: F401  unused; perfbench/run.py wraps it

Window = tuple[str, str] | None
Cohort = tuple[str, ...] | None


def combo_label(window: Window, cohort: Cohort, name: str | None = None) -> str:
    """Deterministic human-readable directory stem for one grid cell (the
    reference's artifact-path templating, models.py:29-37: scope values
    formatted into the artifact name, `_global_` for the no-op scope).
    `name`: a named cohort (sources/cohorts.py — the reference's region
    specifier) is templated by its name, not its lang list."""
    w = "all" if window is None else f"{window[0][:10]}_{window[1][:10]}"
    c = name if name else ("global" if cohort is None else "-".join(cohort))
    return f"window={w}/cohort={c}"


def plan_grid(
    base_cfg: QAConfig,
    windows: list[Window],
    cohorts: list[Cohort],
    cohort_names: list[str | None] | None = None,
) -> list[tuple[str, QAConfig, bool]]:
    """Cartesian product of scopes → (label, config, applicable) combos.

    `applicable` is False when the cohort cannot intersect allowed_langs —
    the capability-predicate prune; such combos are reported, never run.
    `cohort_names` (parallel to `cohorts`): display/artifact names for
    named cohorts fetched from a cohort-list source."""
    names = cohort_names or [None] * len(cohorts)
    out = []
    for w in windows:
        for c, nm in zip(cohorts, names):
            cfg = dataclasses.replace(base_cfg, window=w, cohort_langs=c)
            applicable = c is None or bool(set(c) & set(cfg.allowed_langs))
            out.append((combo_label(w, c, nm), cfg, applicable))
    return out


def combo_dir(out_root: str, label: str, cfg: QAConfig) -> str:
    # hash suffix: two combos with the same scopes but different thresholds
    # never share artifacts (the reference keys artifacts by extraction
    # identity, mixins/extractions.py:33-40)
    return os.path.join(out_root, label, cfg.config_hash())


def run_grid(
    spark: SparkSession,
    pages: DataFrame,
    base_cfg: QAConfig,
    windows: list[Window],
    cohorts: list[Cohort],
    out_root: str,
    resume: bool = True,
    cache_base: str | None = None,
    cohort_names: list[str | None] | None = None,
) -> dict:
    """Run every applicable (window × cohort) combo, resuming completed or
    partial combos from their manifests. An exception mid-grid propagates
    (driver-restart semantics); completed combos keep their manifests and
    are skipped on the next invocation.

    `cache_base`: root of another grid's output — each combo looks for its
    own label/config-hash subtree there and fetches completed chunks
    instead of recomputing (checkpoint.fetch_chunk)."""
    t0 = time.time()
    combos = plan_grid(base_cfg, windows, cohorts, cohort_names)

    results: dict[str, dict] = {}
    for label, cfg, applicable in combos:
        if not applicable:
            results[label] = {"status": "inapplicable"}
            continue
        cdir = combo_dir(out_root, label, cfg)
        already = len(completed_chunks(cdir)) if resume else 0
        combo_cache = (
            f"{cache_base.rstrip('/')}/{label}/{cfg.config_hash()}"
            if cache_base
            else None
        )
        summary = run_qa(
            spark,
            pages,
            cfg,
            cdir,
            resume=resume,
            cache_base=combo_cache,
        )
        summary["status"] = (
            "resumed" if already == cfg.n_chunks else
            "fetched" if summary.get("chunks_fetched") and not summary["chunks_run"]
            else "partial_resume" if already else "ran"
        )
        results[label] = summary
        _write_grid_manifest(out_root, results)

    out = {
        "combos": results,
        "n_ran": sum(r.get("status") == "ran" for r in results.values()),
        "n_resumed": sum(
            r.get("status") in ("resumed", "partial_resume")
            for r in results.values()
        ),
        "n_inapplicable": sum(
            r.get("status") == "inapplicable" for r in results.values()
        ),
        "n_fetched": sum(r.get("status") == "fetched" for r in results.values()),
        "wall_s": round(time.time() - t0, 3),
    }
    _write_grid_manifest(out_root, results)
    return out


# ---------------------------------------------------------------------------
# Window-fused grid: one scan+score job per WINDOW, not per combo.
#
# The reference's core physical decision is one shared scan feeding all
# extractions (/root/reference/isimip_qa/main.py:130-136). In a grid, the
# cohort scope is a *column predicate* (lang ∈ cohort) — re-running the
# whole scan + Arrow scoring pass per cohort multiplies the dominant cost
# by n_cohorts for zero new information. Here each window runs ONE run_qa
# over the union of its cohorts' languages into a shared, chunk-resumable
# staging; every combo then derives its artifacts (per-partition metrics,
# lineage, chunk manifests) from a column-pruned read of the staging —
# the derivation jobs read only the small metric columns plus `lang`,
# never the text, and never re-score.
#
# The scored data itself is stored ONCE per window, partitioned by chunk;
# a combo's manifest records the shared files plus its cohort predicate,
# and `read_combo_scored` reconstructs the combo's view (partition/column
# pruned — the Iceberg-view analogue). Copying the data per cohort would
# multiply write volume by n_cohorts at 100 TB; a predicate-scoped view of
# one lang-filterable table is the production shape.
#
# Trade-off vs run_grid (kept as-is): per-combo mode keeps combos fully
# independent (separately cacheable via cache_base, independently
# killable); fused mode is the scan-efficient choice whenever windows
# share multiple cohorts and compute dominates — the 100-TB default.
# ---------------------------------------------------------------------------


def shared_window_dir(out_root: str, window: Window, wcfg: QAConfig) -> str:
    w = "all" if window is None else f"{window[0][:10]}_{window[1][:10]}"
    return os.path.join(out_root, "_shared", f"window={w}", wcfg.config_hash())


def read_combo_scored(spark: SparkSession, cdir: str) -> DataFrame:
    """Scored rows of one fused-grid combo: the shared window staging with
    the combo's cohort predicate applied (no data copy on disk)."""
    from .pipeline import read_scored

    with open(os.path.join(cdir, "shared_data.json")) as f:
        info = json.load(f)
    df = read_scored(spark, info["shared_out_dir"])
    langs = info.get("cohort_langs")
    if langs:
        from pyspark.sql import functions as F

        df = df.filter(F.col("lang").isin(*langs))
    return df


def _derive_combo(spark, wdir: str, cdir: str, cfg: QAConfig) -> dict:
    """Materialise one combo's artifact set from the shared window staging:
    per-(chunk, partition) metrics, lineage, chunk manifests, and the
    shared-data marker. One Spark job reading only metric columns + lang."""
    import pandas as pd
    from pyspark.sql import functions as F

    from .checkpoint import chunk_files
    from .pipeline import (
        _append_parquet_driver_side,
        _metric_aggs,
        _metrics_records,
        read_scored,
    )

    t0 = time.time()
    scored = read_scored(spark, wdir)
    if cfg.cohort_langs is not None:
        scored = scored.filter(F.col("lang").isin(*cfg.cohort_langs))
    metrics_pdf = (
        scored.groupBy(
            F.col("chunk").cast("int").alias("chunk"),
            F.spark_partition_id().alias("partition_id"),
        )
        .agg(*_metric_aggs(cfg))
        .toPandas()
    )
    cfg_hash = cfg.config_hash()
    metrics_pdf["config_hash"] = cfg_hash
    _append_parquet_driver_side(metrics_pdf, f"{cdir}/metrics")

    per_chunk = {
        int(c): int(n)
        for c, n in metrics_pdf.groupby("chunk")["n_docs"].sum().items()
    }
    wall = round(time.time() - t0, 3)
    from .stages import STAGES

    lineage_pdf = pd.DataFrame(
        [
            {
                "config_hash": cfg_hash,
                "chunk": int(c),
                "stages": ",".join(s.name for s in STAGES),
                "rows": int(per_chunk.get(c, 0)),
                "wall_s": wall,
            }
            for c in range(cfg.n_chunks)
        ]
    )
    _append_parquet_driver_side(lineage_pdf, f"{cdir}/lineage")

    os.makedirs(cdir, exist_ok=True)
    marker = {
        "shared_out_dir": wdir,
        "cohort_langs": list(cfg.cohort_langs) if cfg.cohort_langs else None,
    }
    tmp = os.path.join(cdir, ".shared_data.json.tmp")
    with open(tmp, "w") as f:
        json.dump(marker, f, sort_keys=True)
    os.replace(tmp, os.path.join(cdir, "shared_data.json"))

    from .checkpoint import mark_chunk_done

    for c in range(cfg.n_chunks):
        mark_chunk_done(
            cdir,
            c,
            {
                "rows": int(per_chunk.get(c, 0)),
                "config_hash": cfg_hash,
                "stages": [s.name for s in STAGES],
                "files": chunk_files(wdir, c),  # shared, not copied
                "shared": marker,
                "metrics": _metrics_records(
                    metrics_pdf[metrics_pdf["chunk"] == c]
                ),
            },
        )
    return {
        "status": "ran",
        "chunks_run": list(range(cfg.n_chunks)),
        "chunks_skipped": [],
        "rows": int(sum(per_chunk.values())),
        "wall_s": wall,
        "config_hash": cfg_hash,
        "shared_out_dir": wdir,
    }


def run_grid_fused(
    spark: SparkSession,
    pages: DataFrame,
    base_cfg: QAConfig,
    windows: list[Window],
    cohorts: list[Cohort],
    out_root: str,
    resume: bool = True,
    cohort_names: list[str | None] | None = None,
) -> dict:
    """Window-fused grid: corpus scan/score job count == n_windows, never
    n_combos (asserted in tests/test_grid_fused.py). See the design note
    above; resume granularity is per window chunk (staging) + per combo
    (manifests)."""
    t0 = time.time()
    combos = plan_grid(base_cfg, windows, cohorts, cohort_names)

    results: dict[str, dict] = {}
    n_window_jobs = 0
    for w in windows:
        wcombos = [
            (label, cfg)
            for label, cfg, ok in combos
            if ok and cfg.window == w
        ]
        for label, cfg, ok in combos:
            if not ok and cfg.window == w:
                results[label] = {"status": "inapplicable"}
        if not wcombos:
            continue

        langs: set[str] = set()
        whole = False
        for _, cfg in wcombos:
            if cfg.cohort_langs is None:
                whole = True
            else:
                langs.update(cfg.cohort_langs)
        union = None if whole else tuple(sorted(langs))
        wcfg = dataclasses.replace(base_cfg, window=w, cohort_langs=union)
        wdir = shared_window_dir(out_root, w, wcfg)

        todo = [
            (label, cfg)
            for label, cfg in wcombos
            if not resume
            or len(completed_chunks(combo_dir(out_root, label, cfg)))
            < cfg.n_chunks
        ]
        if todo and run_qa(spark, pages, wcfg, wdir, resume=resume)["chunks_run"]:
            n_window_jobs += 1
        for label, cfg in wcombos:
            cdir = combo_dir(out_root, label, cfg)
            if resume and len(completed_chunks(cdir)) == cfg.n_chunks:
                results[label] = {
                    "status": "resumed",
                    "chunks_run": [],
                    "rows": 0,
                }
                continue
            results[label] = _derive_combo(spark, wdir, cdir, cfg)
        _write_grid_manifest(out_root, results)

    out = {
        "combos": results,
        "n_window_jobs": n_window_jobs,
        "n_ran": sum(r.get("status") == "ran" for r in results.values()),
        "n_resumed": sum(r.get("status") == "resumed" for r in results.values()),
        "n_inapplicable": sum(
            r.get("status") == "inapplicable" for r in results.values()
        ),
        "wall_s": round(time.time() - t0, 3),
    }
    _write_grid_manifest(out_root, results)
    return out


def _write_grid_manifest(out_root: str, results: dict) -> None:
    os.makedirs(out_root, exist_ok=True)
    tmp = os.path.join(out_root, ".grid_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {k: v.get("status") for k, v in results.items()}, f, sort_keys=True
        )
    os.replace(tmp, os.path.join(out_root, "grid_manifest.json"))
