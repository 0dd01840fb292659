"""DSIR model artifact: fit/save/load round-trip, fingerprint guard,
scoring parity with the oracle-checked query, and the CLI export filter."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from isimip_qa_spark.plans.dsir_artifact import (
    MODEL_FINGERPRINT,
    fit_dsir_artifact,
    load_dsir_artifact,
    score_with_artifact,
)
from isimip_qa_spark.queries.dsir import TARGET_MOD, dsir_logratio, dsir_weights

SF = "/root/testdata/sf0.01"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def test_fit_matches_oracle_checked_query_model(spark, tmp_path):
    """Fitting with raw/target = the query's own doc_id carve-out must
    reproduce the oracle-checked dsir_logratio model EXACTLY."""
    d = _docs(spark)
    art = fit_dsir_artifact(
        d.filter(F.col("doc_id") % TARGET_MOD != 0),
        d.filter(F.col("doc_id") % TARGET_MOD == 0),
        str(tmp_path / "model.json"),
    )
    model = {r["bucket"]: r["logratio"] for r in dsir_logratio(spark, SF).collect()}
    assert art["logratio"] == [model[b] for b in range(len(model))]


def test_scoring_parity_and_roundtrip(spark, tmp_path):
    d = _docs(spark)
    path = str(tmp_path / "model.json")
    fit_dsir_artifact(
        d.filter(F.col("doc_id") % TARGET_MOD != 0),
        d.filter(F.col("doc_id") % TARGET_MOD == 0),
        path,
    )
    art = load_dsir_artifact(path)
    scored = {
        r["doc_id"]: r["dsir_logweight"]
        for r in score_with_artifact(
            d.filter(F.col("doc_id") % TARGET_MOD != 0), art
        ).collect()
    }
    ref = {
        r["doc_id"]: r["logweight"] for r in dsir_weights(spark, SF).collect()
    }
    assert scored == ref  # bit-exact (dyadic sums)


def test_fingerprint_guard_refuses_foreign_model(tmp_path):
    path = str(tmp_path / "bad.json")
    with open(path, "w") as f:
        json.dump({"fingerprint": "dsir:B=512:other", "logratio": [0.0]}, f)
    with pytest.raises(ValueError, match="refusing"):
        load_dsir_artifact(path)
    assert "B=1024" in MODEL_FINGERPRINT


def test_cli_fits_model_and_filters_export(spark, tmp_path, restore_session_conf):
    """End-to-end: QA run + DSIR fit + thresholded export through the CLI
    entry (same code path as spark-submit)."""
    from isimip_qa_spark.cli import main
    from isimip_qa_spark.plans.pipeline import read_scored
    from isimip_qa_spark.sources.pages import pages_pandas

    import numpy as np

    src = str(tmp_path / "pages")
    spark.createDataFrame(pages_pandas(np.arange(400))).write.parquet(src)
    target = str(tmp_path / "target")
    # target corpus: the en pages (selection should tilt toward en vocab)
    spark.createDataFrame(
        pages_pandas(np.arange(400, 500))
    ).filter("lang = 'en'").select("text").write.parquet(target)

    out = str(tmp_path / "out")
    exp = str(tmp_path / "export")
    model = str(tmp_path / "model.json")
    rc = main(
        [
            "--input", src, "--output", out,
            "--chunks", "2",
            "--export-dir", exp,
            "--dsir-target", target,
            "--dsir-artifact", model,
            "--dsir-threshold=-1e9",  # permissive: filter must be a no-op
        ]
    )
    assert rc == 0
    assert os.path.exists(model)
    art = load_dsir_artifact(model)
    assert len(art["logratio"]) == 1024
    # permissive threshold ⇒ export equals the kept set exactly — and
    # ONLY the kept set (the data dir also stores the keep=False rows)
    scored_all = read_scored(spark, out)
    kept = scored_all.filter("keep").select("url", F.col("text_scrubbed").alias("text"))
    kept_n = kept.count()
    assert kept_n < scored_all.count()  # fixture drops some pages
    exported = spark.read.json(f"{exp}/data")
    assert exported.count() == kept_n
    # the export ships each kept doc's SCRUBBED text, never the raw text
    assert sorted(exported.select("url", "text").collect()) == sorted(kept.collect())
    assert scored_all.filter("keep AND scrubbed").count() > 0  # raw != scrubbed somewhere

    # second run with a real threshold: export strictly shrinks, and every
    # surviving doc scores above it
    exp2 = str(tmp_path / "export2")
    scored = score_with_artifact(kept, art)
    med = scored.approxQuantile("dsir_logweight", [0.5], 0.0)[0]
    rc = main(
        [
            "--input", src, "--output", out,
            "--chunks", "2",
            "--export-dir", exp2,
            "--dsir-artifact", model,
            "--dsir-threshold", str(med),
        ]
    )
    assert rc == 0
    n2 = spark.read.json(f"{exp2}/data").count()
    assert 0 < n2 < kept_n
