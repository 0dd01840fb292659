"""tools/merge_scaling_run.py repeatability guard: keyed on run identity,
not efficiency value (ADVICE r4) — re-merging the same run file is a
no-op, while a NEW run that lands the SAME rounded efficiency is kept."""

from __future__ import annotations

import importlib
import json
import os
import sys
from pathlib import Path


def _run_json(run_id, eff):
    return {
        "run_id": run_id,
        "pages_n": 100000,
        "rounds": 1,
        "levels": {"2": {"docs_per_sec": 1.0}},
        "n_to_4n_pairs": {
            "local[1] -> local[4]": {"scaling_efficiency": 0.9, "pass": True},
            "local[2] -> local[8]": {"scaling_efficiency": eff, "pass": eff >= 0.8},
        },
    }


def _merge(tmp_path, monkeypatch, run):
    mod = importlib.import_module("tools.merge_scaling_run")
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    rp = tmp_path / "run.json"
    rp.write_text(json.dumps(run))
    monkeypatch.setattr(sys, "argv", ["merge_scaling_run.py", str(rp)])
    mod.main()
    return json.loads((tmp_path / "SCALING.json").read_text())


def test_same_run_id_noop_same_value_new_run_kept(tmp_path, monkeypatch):
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    base = {
        "levels": {"1": {"docs_per_sec": 1.0}},
        "pages_n": 100000,
        "rounds": 1,
        "n_to_4n_pairs": {},
        "repeatability_2_8": {"note": "", "runs": [0.81]},
    }
    (tmp_path / "SCALING.json").write_text(json.dumps(base))

    cur = _merge(tmp_path, monkeypatch, _run_json("runA", 0.81))
    # new run id, same rounded efficiency as history → genuinely appended
    assert cur["repeatability_2_8"]["runs"] == [0.81, 0.81]
    assert cur["repeatability_2_8"]["merged_run_ids"] == ["runA"]

    cur = _merge(tmp_path, monkeypatch, _run_json("runA", 0.81))
    # re-merging the SAME run file → no-op
    assert cur["repeatability_2_8"]["runs"] == [0.81, 0.81]

    cur = _merge(tmp_path, monkeypatch, _run_json("runB", 0.81))
    assert cur["repeatability_2_8"]["runs"] == [0.81, 0.81, 0.81]
    assert cur["repeatability_2_8"]["merged_run_ids"] == ["runA", "runB"]


def test_legacy_run_without_id_hash_keyed(tmp_path, monkeypatch):
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    base = {
        "levels": {"1": {"docs_per_sec": 1.0}},
        "pages_n": 100000,
        "rounds": 1,
        "n_to_4n_pairs": {},
        "repeatability_2_8": {"note": "", "runs": []},
    }
    (tmp_path / "SCALING.json").write_text(json.dumps(base))
    legacy = _run_json("x", 0.85)
    del legacy["run_id"]
    cur = _merge(tmp_path, monkeypatch, legacy)
    assert cur["repeatability_2_8"]["runs"] == [0.85]
    cur = _merge(tmp_path, monkeypatch, legacy)  # identical content → no-op
    assert cur["repeatability_2_8"]["runs"] == [0.85]
