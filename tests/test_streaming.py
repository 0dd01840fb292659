"""Structured Streaming QA: micro-batch scoring, watermarked windows,
custom stateful operator (state across batches)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from isimip_qa_spark.catalog import PAGES_SCHEMA
from isimip_qa_spark.plans.config import QAConfig
from isimip_qa_spark.sources.pages import pages_pandas


@pytest.fixture(scope="module")
def staged_src(spark, tmp_path_factory):
    """Pages arriving as two file batches (ids 0-999, then 1000-1999)."""
    src = str(tmp_path_factory.mktemp("stream_src"))
    for lo, hi in [(0, 1000), (1000, 2000)]:
        pdf = pages_pandas(np.arange(lo, hi))
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(2).write.mode("append").parquet(src)
    return src


def _append_pages(spark, src: str, pdf) -> None:
    spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(2).write.mode("append").parquet(src)


def _null_text_page():
    """One page with NULL text and a valid timestamp: the sink writes it
    with NULL scores and keep=False."""
    pdf = pages_pandas(np.arange(1))
    return pdf.assign(url="https://nulltext.example.org/p/0", text=None)


def _stream(spark, src: str, out: str) -> None:
    from isimip_qa_spark.streaming.qa_stream import score_stream

    q = score_stream(spark, src, out, QAConfig())
    assert q.awaitTermination(120)
    assert q.exception() is None


def _scored(spark, out_dir: str):
    from isimip_qa_spark.plans.pipeline import read_scored

    return (
        read_scored(spark, out_dir).toPandas().sort_values("url").reset_index(drop=True)
    )


def _batch_scored(spark, src: str, out_dir: str):
    """batch run_qa over every file of `src`, read back."""
    from isimip_qa_spark.plans.pipeline import run_qa

    run_qa(spark, spark.read.schema(PAGES_SCHEMA).parquet(src), QAConfig(), out_dir)
    return _scored(spark, out_dir)


def test_score_stream_matches_batch(spark, tmp_path):
    """One micro-batch over two file batches: every written column equals a
    batch run_qa over the same files, the NULL-text row included."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _append_pages(spark, src, pages_pandas(np.arange(300)))
    _append_pages(spark, src, pd.concat([pages_pandas(np.arange(300, 600)), _null_text_page()]))
    _stream(spark, src, out)

    got = _scored(spark, f"{out}/batch=*")
    assert sorted(os.listdir(out)) == ["_checkpoint", "batch=0"]
    pd.testing.assert_frame_equal(got, _batch_scored(spark, src, str(tmp_path / "batch")))
    assert len(got) == 601
    null_row = got[got["text"].isna()]
    assert null_row["keep"].tolist() == [False]


def test_score_stream_continues_with_a_new_batch(spark, tmp_path):
    """Each run over appended files writes the next batch=<id> beside the
    earlier ones; their union equals batch run_qa over all files. The last
    batch holds only pages without a timestamp, so it scores no row and
    writes no data directory."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    for pdf in (
        pages_pandas(np.arange(300)),
        pages_pandas(np.arange(300, 600)),
        pages_pandas(np.arange(600, 605)).assign(warc_ts=pd.NaT),
    ):
        _append_pages(spark, src, pdf)
        _stream(spark, src, out)

    assert sorted(os.listdir(out)) == ["_checkpoint", "batch=0", "batch=1", "batch=2"]
    assert len(_scored(spark, f"{out}/batch=0")) == 300
    assert not os.path.exists(f"{out}/batch=2/data")
    pd.testing.assert_frame_equal(
        _scored(spark, f"{out}/batch=*"), _batch_scored(spark, src, str(tmp_path / "batch"))
    )


def test_score_stream_replay_recomputes_only_the_unpublished_chunk(spark, tmp_path):
    """A batch replayed after a crash (no commit for it, one chunk manifest
    missing) recomputes only that chunk through run_qa's resume: the other
    chunks' files are not rewritten and no row is added."""
    from isimip_qa_spark.plans.checkpoint import chunk_path, manifest_dir

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _append_pages(spark, src, pages_pandas(np.arange(400)))
    _stream(spark, src, out)
    run = f"{out}/batch=0"
    before = _scored(spark, run)
    n_chunks = QAConfig().n_chunks

    def files() -> dict:
        out_files = {}
        for c in range(n_chunks):
            for name in os.listdir(chunk_path(run, c)):
                path = os.path.join(chunk_path(run, c), name)
                with open(path, "rb") as f:
                    out_files[path] = (os.stat(path).st_mtime_ns, f.read())
        return out_files

    old = files()
    # the batch's commit, with the checksum file the local file system
    # writes beside it
    for name in ("0", ".0.crc"):
        os.remove(f"{out}/_checkpoint/commits/{name}")
    os.remove(os.path.join(manifest_dir(run), "chunk_3.json"))
    _stream(spark, src, out)

    assert os.path.exists(f"{out}/_checkpoint/commits/0")
    assert not os.path.exists(f"{out}/batch=1")
    new = files()
    assert new.keys() == old.keys()
    changed = {p for p in old if old[p] != new[p]}
    assert {os.path.dirname(p) for p in changed} <= {chunk_path(run, 3)}
    assert os.path.exists(os.path.join(manifest_dir(run), "chunk_3.json"))
    # the republished chunk's earlier lineage row is replaced, not repeated
    lineage = spark.read.parquet(f"{run}/lineage").toPandas()
    assert sorted(lineage["chunk"]) == list(range(n_chunks))
    pd.testing.assert_frame_equal(_scored(spark, run), before)


def test_windowed_metrics_append_mode(spark, staged_src, tmp_path):
    """Watermarked tumbling windows finalize once the watermark passes: all
    but the stream-final day window must be emitted."""
    from isimip_qa_spark.streaming.qa_stream import windowed_metrics_stream

    out = str(tmp_path / "wm_out")
    q = windowed_metrics_stream(spark, staged_src, out, QAConfig(), watermark="1 hour")
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out}/metrics").toPandas()
    # corpus spans 30 days; append mode withholds windows newer than
    # watermark = max_ts - 1h → at least the first 28 day-windows × langs
    assert got["window_start"].nunique() >= 28
    assert set(got["lang"]) == {"en", "es", "fr", "de", "zh"}
    assert (got["n_keep"] <= got["n_docs"]).all()


def test_windowed_metrics_with_lang_profiles(spark, staged_src, tmp_path, pages_sdf):
    """Language profiles key the keep thresholds on lang_pred, so the stream
    runs the langid stage before the rules: every emitted window equals a
    batch groupBy over rules_pass_expr on the same rows."""
    from pyspark.sql import functions as F

    from isimip_qa_spark.plans.stages import STAGES, rules_pass_expr
    from isimip_qa_spark.streaming.qa_stream import windowed_metrics_stream

    cfg = QAConfig(lang_profiles=(("en", 121, 0.01, 0.8),))
    out = str(tmp_path / "wm_profiles")
    q = windowed_metrics_stream(spark, staged_src, out, cfg, watermark="1 hour")
    q.awaitTermination(120)
    assert q.exception() is None
    got = spark.read.parquet(f"{out}/metrics").toPandas()

    stages = {s.name: s for s in STAGES}
    scored = stages["rules"].apply(stages["langid"].apply(pages_sdf, cfg), cfg)
    want = (
        scored.groupBy(F.window("warc_ts", "1 day").start.alias("window_start"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(rules_pass_expr(cfg), 1).otherwise(0)).alias("n_keep"),
            F.sum(F.when(rules_pass_expr(QAConfig()), 1).otherwise(0)).alias("n_keep_global"),
        )
        .toPandas()
    )
    both = got.merge(want, on=["window_start", "lang"], suffixes=("", "_batch"))
    assert got["window_start"].nunique() >= 28 and len(both) == len(got)
    assert both["n_docs"].tolist() == both["n_docs_batch"].tolist()
    assert both["n_keep"].tolist() == both["n_keep_batch"].tolist()
    # the profile changes the gate on these rows
    assert (both["n_keep"] != both["n_keep_global"]).any()


def test_host_state_across_batches(spark, staged_src, tmp_path):
    """applyInPandasWithState: totals accumulate across micro-batches."""
    from isimip_qa_spark.streaming.qa_stream import host_state_stream

    out = str(tmp_path / "state_out")
    q = host_state_stream(spark, staged_src, out)
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out}/host_state").toPandas()
    # host0 holds 20 % of 2000 docs; the final update row must show the
    # cumulative count over all batches
    final_host0 = got[got["host"] == "host0.example.org"]["n_docs"].max()
    assert final_host0 == 400
    assert got["first_ts"].min().year == 2024


def test_dedup_stream_first_arrival_wins(spark, staged_src, tmp_path):
    """Streaming exact dedup keeps one row per distinct text across
    micro-batches; the planted near-dup structure guarantees true
    duplicate groups exist in the corpus."""
    from isimip_qa_spark.streaming.qa_stream import dedup_stream

    out = str(tmp_path / "dedup_out")
    q = dedup_stream(spark, staged_src, out)
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out}/deduped").toPandas()
    pdf = pages_pandas(np.arange(2000))
    n_distinct = pdf["text"].nunique()
    assert n_distinct < 2000  # the corpus really contains duplicates
    assert len(got) == n_distinct
    assert got["text"].nunique() == n_distinct
