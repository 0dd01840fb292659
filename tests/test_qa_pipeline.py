"""The full QA DAG vs the pure-pandas oracle: F1, byte-identity, resume,
metrics + lineage (BASELINE.json acceptance criteria)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from isimip_qa_spark.plans import QAConfig, run_qa
from isimip_qa_spark.plans.pipeline import read_scored
from oracle.pandas_ref import f1_score, qa_frame


@pytest.fixture(scope="module")
def cfg():
    return QAConfig(n_chunks=4, n_partitions=4)


@pytest.fixture(scope="module")
def scored(spark, pages_sdf, cfg, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qa_out"))
    summary = run_qa(spark, pages_sdf, cfg, out)
    return out, summary, read_scored(spark, out).toPandas()


@pytest.fixture(scope="module")
def oracle_scored(pages_pdf, cfg):
    return qa_frame(pages_pdf.drop(columns=["html"]), cfg)


def test_all_rows_survive(scored, pages_pdf):
    _, summary, got = scored
    assert len(got) == len(pages_pdf)
    assert summary["rows"] == len(pages_pdf)
    assert sorted(summary["chunks_run"]) == [0, 1, 2, 3]


def test_keep_drop_f1(scored, oracle_scored):
    """BASELINE.json: keep/drop F1 ≥ 0.99 vs the reference implementation.
    With frozen shared constants the match should be exact."""
    _, _, got = scored
    merged = got.merge(
        oracle_scored[["url", "keep"]], on="url", suffixes=("", "_oracle")
    )
    assert len(merged) == len(got)
    f1 = f1_score(merged["keep"], merged["keep_oracle"])
    assert f1 >= 0.99, f"F1={f1}"
    # and in fact exact agreement
    assert (merged["keep"] == merged["keep_oracle"]).all()


def test_scrub_byte_identity(scored, oracle_scored):
    """BASELINE.json input_hint: byte-identical scrubbed text per url."""
    _, _, got = scored
    merged = got.merge(
        oracle_scored[["url", "text_scrubbed"]], on="url", suffixes=("", "_o")
    )
    same = merged["text_scrubbed"] == merged["text_scrubbed_o"]
    assert same.all(), merged.loc[~same, "url"].head()


def test_pii_actually_scrubbed(scored):
    _, _, got = scored
    changed = got[got["text_scrubbed"] != got["text"]]
    assert len(changed) > 0
    assert changed["text_scrubbed"].str.contains("<EMAIL>").all()
    assert not changed["text_scrubbed"].str.contains("example-mail.com").any()


def test_langid_equals_oracle(scored, oracle_scored):
    """lang_pred per url equals the pandas oracle's stop-word argmax on
    every page, defect buckets included."""
    _, _, got = scored
    merged = got.merge(oracle_scored[["url", "lang_pred"]], on="url", suffixes=("", "_o"))
    assert len(merged) == len(got)
    same = merged["lang_pred"] == merged["lang_pred_o"]
    assert same.all(), merged.loc[~same, "url"].head()


def test_langid_accuracy_on_clean_docs(scored):
    """Clean docs (every bucket except no-stopword 85-89) must langid to
    their true language."""
    _, _, got = scored
    doc_id = got["url"].str.extract(r"/p/(\d+)$")[0].astype(int)
    clean = got[(doc_id % 100 < 70)]
    acc = (clean["lang_pred"] == clean["lang"]).mean()
    assert acc == 1.0, acc


def test_planted_defects_dropped(scored):
    _, _, got = scored
    doc_id = got["url"].str.extract(r"/p/(\d+)$")[0].astype(int)
    b = doc_id % 100
    assert not got.loc[(b >= 70) & (b < 94), "keep"].any()
    assert got.loc[b < 70, "keep"].all()
    assert got.loc[(b >= 94) & (b <= 96), "keep"].all()  # PII docs kept


def test_metrics_and_lineage_written(spark, scored, cfg):
    out, _, got = scored
    metrics = spark.read.parquet(f"{out}/metrics").toPandas()
    assert metrics["n_docs"].sum() == len(got)
    assert (metrics["config_hash"] == cfg.config_hash()).all()
    assert metrics["n_scrubbed"].sum() == (got["text_scrubbed"] != got["text"]).sum()
    lineage = spark.read.parquet(f"{out}/lineage").toPandas()
    assert set(lineage["chunk"]) == {0, 1, 2, 3}
    assert (lineage["stages"] == "langid,perplexity,rules,scrub,decision").all()
    assert lineage["rows"].sum() == len(got)


def test_resume_skips_completed_chunks(spark, pages_sdf, cfg, scored):
    out, _, _ = scored
    summary2 = run_qa(spark, pages_sdf, cfg, out, resume=True)
    assert summary2["chunks_run"] == []
    assert sorted(summary2["chunks_skipped"]) == [0, 1, 2, 3]


def test_resume_after_partial_failure(spark, pages_sdf, cfg, tmp_path):
    """Kill/restart: drop one chunk's manifest → only that chunk re-runs,
    and the final corpus is complete (reference analogue: artifact-exists
    skip, main.py:126-128)."""
    out = str(tmp_path / "qa_partial")
    run_qa(spark, pages_sdf, cfg, out)
    os.remove(os.path.join(out, "_manifest", "chunk_2.json"))
    summary = run_qa(spark, pages_sdf, cfg, out, resume=True)
    assert summary["chunks_run"] == [2]
    assert sorted(summary["chunks_skipped"]) == [0, 1, 3]
    got = read_scored(spark, out).toPandas()
    assert len(got) == pages_sdf.count()


def test_window_and_cohort_pushdown(spark, pages_sdf, tmp_path):
    """Period/Region analogues actually filter (and appear as pushed
    filters over a parquet source)."""
    src = str(tmp_path / "pages_parquet")
    pages_sdf.write.mode("overwrite").parquet(src)
    pages = spark.read.parquet(src)
    cfg = QAConfig(
        n_chunks=2,
        n_partitions=2,
        window=("2024-01-01 00:00:00", "2024-01-10 00:00:00"),
        cohort_langs=("en",),
    )
    out = str(tmp_path / "qa_scoped")
    summary = run_qa(spark, pages, cfg, out)
    got = read_scored(spark, out).toPandas()
    assert 0 < len(got) < pages.count()
    assert (got["lang"] == "en").all()
    assert got["warc_ts"].max() <= pd.Timestamp("2024-01-10")
    # pushdown check on the scoped plan
    from isimip_qa_spark.plans.pipeline import scope_pred

    plan = pages.filter(scope_pred(cfg))._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "warc_ts" in plan


def test_one_sink_job_fresh_and_resume(spark, pages_sdf, cfg, tmp_path, sink_jobs):
    """Every run_qa that computes anything submits exactly ONE sink job:
    a fresh run computes all chunks in it, a resume only the missing one."""
    n_splits = pages_sdf.rdd.getNumPartitions()
    assert n_splits != cfg.n_partitions
    out = str(tmp_path / "qa_jobs")
    fresh, n_jobs = sink_jobs(lambda: run_qa(spark, pages_sdf, cfg, out), n_splits)
    assert fresh["chunks_run"] == [0, 1, 2, 3] and fresh["rows"] == 2000
    assert n_jobs == 1

    os.remove(os.path.join(out, "_manifest", "chunk_2.json"))
    again, n_jobs = sink_jobs(lambda: run_qa(spark, pages_sdf, cfg, out), n_splits)
    assert again["chunks_run"] == [2]
    assert again["chunks_skipped"] == [0, 1, 3]
    assert n_jobs == 1
    assert len(read_scored(spark, out).toPandas()) == 2000


def test_driver_death_between_publishes(
    spark, pages_sdf, cfg, scored, tmp_path, monkeypatch
):
    """A driver that dies after the sink job but between manifest publishes
    leaves the published chunks intact; the rerun recomputes exactly the
    unpublished ones (pre-bucketed input: the missing buckets are pruned),
    leaves no tmp or orphan part file, and scores what a clean run does."""
    from isimip_qa_spark.plans import pipeline
    from isimip_qa_spark.plans.checkpoint import chunk_path, read_manifest

    src = str(tmp_path / "pages_bucketed")
    pages_sdf.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.n_chunks))
    ).write.partitionBy("bucket").parquet(src)
    pages = spark.read.parquet(src)
    out = str(tmp_path / "qa_crash")

    publish = pipeline.mark_chunk_done
    calls = []

    def dies_on_second(*args, **kw):
        calls.append(args[1])
        if len(calls) == 2:
            raise RuntimeError("driver killed")
        publish(*args, **kw)

    monkeypatch.setattr(pipeline, "mark_chunk_done", dies_on_second)
    with pytest.raises(RuntimeError, match="driver killed"):
        run_qa(spark, pages, cfg, out)
    monkeypatch.undo()
    assert set(read_manifest(out)) == {0}

    def stats(chunk):
        d = chunk_path(out, chunk)
        return {f: (os.stat(os.path.join(d, f)).st_ino,
                    os.stat(os.path.join(d, f)).st_mtime_ns) for f in os.listdir(d)}

    before = stats(0)
    summary = run_qa(spark, pages, cfg, out)
    assert summary["chunks_run"] == [1, 2, 3]
    assert summary["chunks_skipped"] == [0]
    assert stats(0) == before

    man = read_manifest(out)
    assert set(man) == {0, 1, 2, 3}
    for c in man:
        on_disk = sorted(os.listdir(chunk_path(out, c)))
        assert on_disk == man[c]["files"]
        assert all(f.startswith("part-") and f.endswith(".parquet") for f in on_disk)

    _, _, clean = scored
    got = read_scored(spark, out).toPandas()
    a = got.sort_values("url").reset_index(drop=True)
    b = clean.sort_values("url").reset_index(drop=True)
    assert a.columns.tolist() == b.columns.tolist()
    pd.testing.assert_frame_equal(a, b)


def test_rerun_without_resume_unpublishes_first(
    spark, pages_sdf, cfg, tmp_path, monkeypatch
):
    """resume=False recomputes every chunk. If its sink job dies, no chunk
    is left published over files the run already cleared."""
    from isimip_qa_spark.plans import pipeline
    from isimip_qa_spark.plans.checkpoint import completed_chunks

    out = str(tmp_path / "qa_rerun")
    run_qa(spark, pages_sdf, cfg, out)

    def job_dies(*args, **kw):
        raise RuntimeError("sink job failed")

    monkeypatch.setattr(pipeline, "qa_sink", job_dies)
    with pytest.raises(RuntimeError, match="sink job failed"):
        run_qa(spark, pages_sdf, cfg, out, resume=False)
    monkeypatch.undo()
    assert completed_chunks(out) == set()
    assert run_qa(spark, pages_sdf, cfg, out)["chunks_run"] == [0, 1, 2, 3]


def test_sink_row_groups_independent_of_arrow_batch(spark, tmp_path):
    """Sink files hold ROW_GROUP_ROWS-row row groups (the remainder last)
    even when Arrow batches are smaller and mix chunks (a one-split input:
    its one sink task sees every chunk in each 1000-row batch)."""
    import pyarrow.parquet as pq

    from isimip_qa_spark.plans.sink import ROW_GROUP_ROWS
    from isimip_qa_spark.sources.pages import pages_df

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try:
        out = str(tmp_path / "qa_rg")
        cfg = QAConfig(n_chunks=2, n_partitions=1)
        run_qa(spark, pages_df(spark, 10_000, num_partitions=1), cfg, out)
    finally:
        spark.conf.set(key, prev)
    for c in range(cfg.n_chunks):
        md = pq.ParquetFile(os.path.join(out, "data", f"chunk={c}", "part-00000.parquet")).metadata
        sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        n = md.num_rows
        assert n > ROW_GROUP_ROWS
        assert sizes == [ROW_GROUP_ROWS] * (n // ROW_GROUP_ROWS) + (
            [n % ROW_GROUP_ROWS] if n % ROW_GROUP_ROWS else []
        )


def test_sink_writes_warc_ts_as_session_wall_clock(spark, tmp_path):
    """Under a non-UTC session time zone the sink writes `warc_ts` as that
    zone's wall-clock time, with no zone, and the metrics' ts_min/ts_max read
    back as wall-clock times of the same zone (the values a pandas hand-off
    produced). The instants straddle a daylight-saving change."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from isimip_qa_spark.sources.pages import pages_pandas

    tz = "America/New_York"
    n = 48
    epoch = 1710036000  # 2024-03-10 02:00 UTC; NY springs forward at 07:00 UTC
    texts = pages_pandas(np.arange(n))["text"].tolist()
    rows = [(f"https://tz.example.org/p/{i}", texts[i], "en", i) for i in range(n)]
    # instants from epoch seconds: independent of the session time zone
    pages = spark.createDataFrame(rows, "url string, text string, lang string, i int")
    pages = pages.withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(epoch) + F.col("i") * 900)
    ).drop("i")

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, tz)
    try:
        out = str(tmp_path / "qa_tz")
        run_qa(spark, pages, QAConfig(n_chunks=2, n_partitions=2), out)
    finally:
        spark.conf.set(key, prev)

    def wall(seconds) -> pd.Series:
        utc = pd.to_datetime(pd.Series(seconds), unit="s", utc=True)
        return utc.dt.tz_convert(tz).dt.tz_localize(None).astype("datetime64[us]")

    data = pq.read_table(os.path.join(out, "data"), columns=["url", "warc_ts"])
    assert data.schema.field("warc_ts").type == pa.timestamp("us")
    got = data.to_pandas()
    got = got.iloc[np.argsort([int(u.rsplit("/", 1)[1]) for u in got["url"]])]
    want = wall(epoch + np.arange(n) * 900)
    assert got["warc_ts"].tolist() == want.tolist()
    # 20 rows before the change at 07:00 UTC (EST, -5 h), 28 after (EDT, -4 h)
    assert want.iloc[0] == pd.Timestamp("2024-03-09 21:00")
    assert want.iloc[19] == pd.Timestamp("2024-03-10 01:45")
    assert want.iloc[20] == pd.Timestamp("2024-03-10 03:00")
    assert want.iloc[-1] == pd.Timestamp("2024-03-10 09:45")

    metrics = pd.read_parquet(os.path.join(out, "metrics"))
    assert metrics["ts_min"].dtype == metrics["ts_max"].dtype == "datetime64[us]"
    assert metrics["ts_min"].min() == want.min() and metrics["ts_max"].max() == want.max()
    for c in range(2):
        ts = pq.read_table(os.path.join(out, "data", f"chunk={c}")).column("warc_ts")
        m = metrics[metrics["chunk"] == c]
        assert (m["ts_min"].min(), m["ts_max"].max()) == (
            ts.to_pandas().min(), ts.to_pandas().max()
        )


def _published(spark, out):
    """What a reader of `out` sees: the metrics_rollup rows, which it reads
    without a Spark job, and the number of lineage rows."""
    import uuid

    from isimip_qa_spark.plots import metrics_rollup

    sc = spark.sparkContext
    group = f"metrics-rollup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rollup = metrics_rollup(out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    return rollup, spark.read.parquet(f"{out}/lineage").count()


def _assert_published_once(spark, out, clean_out):
    """`out` reads as the clean run `clean_out`, and its metrics and lineage
    tables are one file each, projected from its chunk manifests."""
    import pyarrow.parquet as pq

    from isimip_qa_spark.plans.checkpoint import metrics_table, read_manifest

    got, n_lineage = _published(spark, out)
    want, want_lineage = _published(spark, clean_out)
    assert n_lineage == want_lineage == 4
    assert [r["chunk"] for r in got] == [r["chunk"] for r in want]
    for g, w in zip(got, want):
        assert g == pytest.approx(w)

    for table in ("metrics", "lineage"):
        names = os.listdir(f"{out}/{table}")
        assert [n for n in names if not n.startswith((".", "_"))] == ["part-0.parquet"]
    mans = read_manifest(out)
    recs = [r for man in mans.values() for r in man["metrics"]]
    assert pq.read_table(f"{out}/metrics").equals(metrics_table(recs))
    lineage = pq.read_table(f"{out}/lineage").to_pydict()
    assert lineage["chunk"] == sorted(mans)
    assert lineage["wall_s"] == [man["wall_s"] for man in mans.values()]


def _publish_dies(monkeypatch):
    """Kill the driver after a publish has appended its metrics and lineage
    rows, before the first chunk manifest."""
    from isimip_qa_spark.plans import pipeline

    def dies(*args, **kw):
        raise RuntimeError("driver killed")

    monkeypatch.setattr(pipeline, "mark_chunk_done", dies)


def test_rerun_without_resume_publishes_each_chunk_once(
    spark, pages_sdf, cfg, scored, tmp_path
):
    """A resume=False rerun replaces each chunk's metrics and lineage rows
    instead of adding a second copy."""
    out = str(tmp_path / "qa_twice")
    run_qa(spark, pages_sdf, cfg, out)
    assert run_qa(spark, pages_sdf, cfg, out, resume=False)["chunks_run"] == [0, 1, 2, 3]
    _assert_published_once(spark, out, scored[0])


def test_rerun_after_death_before_manifests_publishes_once(
    spark, pages_sdf, cfg, scored, tmp_path, monkeypatch
):
    """A driver killed between a computed publish's metrics/lineage append
    and its manifests leaves rows of unpublished chunks; the rerun
    recomputes those chunks and drops the rows it left."""
    out = str(tmp_path / "qa_orphans")
    _publish_dies(monkeypatch)
    with pytest.raises(RuntimeError, match="driver killed"):
        run_qa(spark, pages_sdf, cfg, out)
    monkeypatch.undo()
    assert run_qa(spark, pages_sdf, cfg, out)["chunks_run"] == [0, 1, 2, 3]
    _assert_published_once(spark, out, scored[0])


def test_refetch_after_death_before_manifests_publishes_once(
    spark, pages_sdf, cfg, scored, tmp_path, monkeypatch
):
    """The same kill on the cache-fetch path: the rerun fetches the chunks
    again and drops the rows the killed publish left."""
    cache = scored[0]
    out = str(tmp_path / "qa_refetch")
    _publish_dies(monkeypatch)
    with pytest.raises(RuntimeError, match="driver killed"):
        run_qa(spark, pages_sdf, cfg, out, cache_base=cache)
    monkeypatch.undo()
    again = run_qa(spark, pages_sdf, cfg, out, cache_base=cache)
    assert again["chunks_fetched"] == [0, 1, 2, 3] and again["chunks_run"] == []
    _assert_published_once(spark, out, cache)


def test_half_cached_run_publishes_each_chunk_once(spark, pages_sdf, cfg, scored, tmp_path):
    """A fetched publish, then a computed publish into the same out_dir:
    the second rebuilds both tables from the first's manifests plus its
    own."""
    import shutil

    cache = str(tmp_path / "half_cache")
    shutil.copytree(scored[0], cache)
    for c in (2, 3):
        os.remove(os.path.join(cache, "_manifest", f"chunk_{c}.json"))
    out = str(tmp_path / "qa_half")
    got = run_qa(spark, pages_sdf, cfg, out, cache_base=cache)
    assert got["chunks_fetched"] == [0, 1] and got["chunks_run"] == [2, 3]
    _assert_published_once(spark, out, scored[0])


def test_publish_replaces_appended_metrics_files(spark, pages_sdf, cfg, scored, tmp_path):
    """An out_dir whose metrics/ holds one more appended part file (the
    layout of one file per publish) double-counts until its next publish,
    which removes that file."""
    import shutil

    out = str(tmp_path / "qa_appended")
    shutil.copytree(scored[0], out)
    extra = os.path.join(out, "metrics", "part-0f1e2d3c4b5a69788796a5b4c3d2e1f0.parquet")
    shutil.copy(os.path.join(out, "metrics", "part-0.parquet"), extra)
    doubled, clean = _published(spark, out)[0], _published(spark, scored[0])[0]
    assert [r["n_docs"] for r in doubled] == [2 * r["n_docs"] for r in clean]

    os.remove(os.path.join(out, "_manifest", "chunk_1.json"))
    assert run_qa(spark, pages_sdf, cfg, out)["chunks_run"] == [1]
    assert not os.path.exists(extra)
    _assert_published_once(spark, out, scored[0])
