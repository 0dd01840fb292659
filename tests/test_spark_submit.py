"""End-to-end deployment-shape test: the north rule runs this engine "via
spark-submit --py-files on a multi-executor cluster". This builds the real
zip (tools/package.py), launches the real spark-submit binary with the repo
NOT on sys.path (a fresh cwd), and asserts the job runs the pipeline from
the shipped artifact alone, writes chunk manifests, and resumes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(sys.executable), "spark-submit"
)


def _build_zip() -> str:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "package.py")],
        capture_output=True, text=True, check=True,
    )
    return out.stdout.strip().splitlines()[-1]


@pytest.mark.skipif(
    not (SPARK_SUBMIT and os.path.exists(SPARK_SUBMIT)),
    reason="spark-submit binary not available",
)
def test_spark_submit_py_files_roundtrip(tmp_path):
    zip_path = _build_zip()
    inp = str(tmp_path / "pages")
    out = str(tmp_path / "scored")
    base = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "qa_submit.py"),
        "--input", inp, "--output", out,
        "--chunks", "2",
    ]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
    r = subprocess.run(
        base + ["--gen-pages", "1200"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["chunks_run"] == [0, 1]
    assert os.path.exists(os.path.join(out, "_manifest", "chunk_1.json"))

    # re-submit with the same --output: resumes, computes nothing — and
    # exports the kept set as verified JSONL shards (the writer raises on
    # any read-back/manifest mismatch, so returncode 0 IS the integrity
    # assertion)
    exp = str(tmp_path / "export")
    r2 = subprocess.run(
        base + ["--export-dir", exp, "--export-shards", "4"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=420,
    )
    assert r2.returncode == 0, r2.stderr[-3000:]
    summary2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert summary2["chunks_run"] == []
    assert summary2["export"]["n_shards"] == 4
    assert summary2["export"]["n_docs"] > 0
    manifest = json.load(open(os.path.join(exp, "manifest.json")))
    assert len(manifest["shards"]) == 4
    assert os.path.isdir(os.path.join(exp, "data", "shard_id=0"))
