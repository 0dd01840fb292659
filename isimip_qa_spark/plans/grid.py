"""Multi-scope orchestration: the reference's quadruple planning loop
(dataset × region × period × extraction, /root/reference/isimip_qa/main.py:115-128,
with the placeholder cartesian product /root/reference/isimip_qa/config.py:38-65),
recast as a (window × cohort) grid of QA runs.

Each combo keeps its own output directory keyed by the combo's config hash,
so the per-combo artifact-cache skip (main.py:126-128) falls out of the
chunk manifests: a completed combo resumes in milliseconds without a scan,
a half-finished combo re-runs only its missing chunks, and a combo never
started runs fully. The resume check, the cache fetch and the publish of
the fetched chunks are driver-only, per combo; then every combo's missing
chunks are computed in ONE sink job
(pipeline.run_targets), the reference's one shared scan feeding every
extraction (main.py:130-136): each row is scored once and written to every
combo whose scope it is in. The driver then publishes each combo's
metrics, lineage and manifests in turn. A grid killed between publishes
resumes with exactly the unpublished combos; one killed during the job
recomputes every combo that job was computing (tests/test_grid.py kills
it both ways). Per-task manifests would narrow that unit.

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

from .config import QAConfig
from .pipeline import run_qa  # noqa: F401  unused; perfbench/run.py wraps it
from .pipeline import run_targets
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
    partial combos from their manifests and computing every combo's missing
    chunks in ONE sink job (pipeline.run_targets). An exception mid-grid
    propagates (driver-restart semantics); combos whose manifests were
    published keep them and are skipped on the next invocation.

    `cache_base`: root of another grid's output — each combo looks for its
    own label/config-hash subtree there and fetches completed chunks
    instead of recomputing (checkpoint.fetch_chunk)."""
    t0 = time.time()
    combos = plan_grid(base_cfg, windows, cohorts, cohort_names)
    runs = [(label, cfg) for label, cfg, applicable in combos if applicable]
    summaries = run_targets(
        spark,
        pages,
        [
            (
                cfg,
                combo_dir(out_root, label, cfg),
                f"{cache_base.rstrip('/')}/{label}/{cfg.config_hash()}"
                if cache_base
                else None,
            )
            for label, cfg in runs
        ],
        resume,
    )
    for (_, cfg), summary in zip(runs, summaries):
        already = len(summary["chunks_skipped"])  # committed before this run
        summary["status"] = (
            "resumed" if already == cfg.n_chunks else
            "fetched" if summary["chunks_fetched"] and not summary["chunks_run"]
            else "partial_resume" if already else "ran"
        )
    by_label = dict(zip((label for label, _ in runs), summaries))
    results = {
        label: by_label.get(label, {"status": "inapplicable"})
        for label, _, _ in combos
    }
    _write_grid_manifest(out_root, results)
    return {
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


def _write_grid_manifest(out_root: str, results: dict) -> None:
    os.makedirs(out_root, exist_ok=True)
    tmp = os.path.join(out_root, ".grid_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {k: v.get("status") for k, v in results.items()}, f, sort_keys=True
        )
    os.replace(tmp, os.path.join(out_root, "grid_manifest.json"))
