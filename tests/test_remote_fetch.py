"""Shared-cache artifact fetch: a completed chunk in another run's output
(or behind a URL) is fetched instead of recomputed — the reference's
remote-fetch skip (/root/reference/isimip_qa/mixins/extractions.py:16-28,
gated at main.py:127)."""

from __future__ import annotations

import pytest

from isimip_qa_spark.plans import QAConfig, run_qa
from isimip_qa_spark.plans.pipeline import read_scored


def _cfg(**kw):
    kw.setdefault("n_chunks", 2)
    kw.setdefault("n_partitions", 4)
    return QAConfig(**kw)


def test_fetch_from_path_url_and_hash_guard(spark, pages_sdf, tmp_path):
    cache = str(tmp_path / "cache")
    cfg = _cfg()
    first = run_qa(spark, pages_sdf, cfg, cache)
    assert first["chunks_run"] == [0, 1]
    want = read_scored(spark, cache).orderBy("url").toPandas()

    # 1) plain-path cache: everything fetched, nothing computed
    out_b = str(tmp_path / "b")
    got = run_qa(spark, pages_sdf, cfg, out_b, cache_base=cache)
    assert got["chunks_fetched"] == [0, 1]
    assert got["chunks_run"] == []
    have = read_scored(spark, out_b).orderBy("url").toPandas()
    assert have["url"].tolist() == want["url"].tolist()
    assert have["keep"].tolist() == want["keep"].tolist()
    assert have["text_scrubbed"].tolist() == want["text_scrubbed"].tolist()

    # 2) URL cache (urllib path; http(s) uses the identical code)
    out_c = str(tmp_path / "c")
    got = run_qa(spark, pages_sdf, cfg, out_c, cache_base=f"file://{cache}")
    assert got["chunks_fetched"] == [0, 1]

    # fetched chunks count as completed for later resumes
    again = run_qa(spark, pages_sdf, cfg, out_c, cache_base=f"file://{cache}")
    assert again["chunks_fetched"] == [] and again["chunks_run"] == []

    # 3) identity guard: different thresholds → different config hash →
    # cache ignored, chunks recomputed
    out_d = str(tmp_path / "d")
    other = _cfg(min_words=10)
    got = run_qa(spark, pages_sdf, other, out_d, cache_base=cache)
    assert got["chunks_fetched"] == []
    assert got["chunks_run"] == [0, 1]


def test_fetch_partial_cache(spark, pages_sdf, tmp_path):
    """A cache holding only chunk 0 yields one fetch + one compute."""
    import shutil

    cache = str(tmp_path / "cache")
    cfg = _cfg()
    run_qa(spark, pages_sdf, cfg, cache)
    # drop chunk 1 from the cache (manifest AND data)
    import os

    os.remove(f"{cache}/_manifest/chunk_1.json")
    shutil.rmtree(f"{cache}/data/chunk=1")

    out = str(tmp_path / "out")
    got = run_qa(spark, pages_sdf, cfg, out, cache_base=cache)
    assert got["chunks_fetched"] == [0]
    assert got["chunks_run"] == [1]


def test_fetch_clears_stale_files_and_replays_metrics(spark, pages_sdf, tmp_path):
    """A fetched chunk must (a) purge part files left by a prior crashed
    compute attempt — they are not in the cache's file list and would
    otherwise duplicate rows — and (b) materialize metrics/lineage rows so
    a cache-hydrated out_dir honours the full artifact contract."""
    import os

    from isimip_qa_spark.plots import metrics_rollup

    cache = str(tmp_path / "cache")
    cfg = _cfg()
    run_qa(spark, pages_sdf, cfg, cache)
    cache_rollup = {
        r["chunk"]: (r["n_docs"], r["keep_rate"])
        for r in metrics_rollup(cache)
    }

    out = str(tmp_path / "out")
    # simulate a crashed compute attempt: a stray committed part file with
    # valid parquet bytes but no manifest
    stray_dir = f"{out}/data/chunk=0"
    os.makedirs(stray_dir)
    src = f"{cache}/data/chunk=1"
    stray_src = os.path.join(src, sorted(os.listdir(src))[0])
    with open(stray_src, "rb") as fsrc, open(
        os.path.join(stray_dir, "part-99999.parquet"), "wb"
    ) as fdst:
        fdst.write(fsrc.read())

    got = run_qa(spark, pages_sdf, cfg, out, cache_base=cache)
    assert got["chunks_fetched"] == [0, 1]
    assert "part-99999.parquet" not in os.listdir(stray_dir)  # purged
    want = read_scored(spark, cache).count()
    assert read_scored(spark, out).count() == want  # no duplicated rows

    # metrics replayed from the manifests: same rollup as the cache
    out_rollup = {
        r["chunk"]: (r["n_docs"], r["keep_rate"])
        for r in metrics_rollup(out)
    }
    assert out_rollup == cache_rollup
    assert os.path.isdir(f"{out}/lineage")


def test_fetch_rejects_traversal_file_names(spark, pages_sdf, tmp_path):
    """A malicious cache manifest must not direct writes outside the chunk
    directory (the cache may be an untrusted HTTP server)."""
    import json
    import os

    cache = str(tmp_path / "cache")
    cfg = _cfg()
    run_qa(spark, pages_sdf, cfg, cache)
    mpath = f"{cache}/_manifest/chunk_0.json"
    with open(mpath) as f:
        man = json.load(f)
    man["files"] = ["../../evil.parquet"]
    with open(mpath, "w") as f:
        json.dump(man, f)

    out = str(tmp_path / "out")
    got = run_qa(spark, pages_sdf, cfg, out, cache_base=cache)
    assert 0 not in got["chunks_fetched"]  # rejected, recomputed instead
    assert 0 in got["chunks_run"]
    assert not os.path.exists(str(tmp_path / "evil.parquet"))


def _rollup(spark, out_dir):
    """metrics_rollup per chunk: counts and keep rate exactly, the mean
    perplexity up to float summation order."""
    from isimip_qa_spark.plots import metrics_rollup

    return {
        r["chunk"]: (r["n_docs"], r["keep_rate"], r["n_scrubbed"], pytest.approx(r["avg_ppl"]))
        for r in metrics_rollup(out_dir)
    }


def test_publish_failing_after_fetch_leaves_chunks_unpublished(
    spark, pages_sdf, tmp_path, monkeypatch
):
    """A fetched chunk is published like a computed one, manifest last: if
    the publish raises after the fetches (here: the metrics write), no
    local manifest exists, and the rerun fetches both chunks again and ends
    with the cache's metrics, each row once."""
    import os

    import pyarrow.parquet as pq

    cache = str(tmp_path / "cache")
    cfg = _cfg()
    run_qa(spark, pages_sdf, cfg, cache)

    def write_fails(*args, **kw):
        raise OSError("metrics store unavailable")

    out = str(tmp_path / "out")
    monkeypatch.setattr(pq, "write_table", write_fails)
    with pytest.raises(OSError, match="metrics store unavailable"):
        run_qa(spark, pages_sdf, cfg, out, cache_base=cache)
    monkeypatch.undo()
    assert not os.path.isdir(f"{out}/_manifest") or not os.listdir(f"{out}/_manifest")

    got = run_qa(spark, pages_sdf, cfg, out, cache_base=cache)
    assert got["chunks_fetched"] == [0, 1] and got["chunks_run"] == []
    assert _rollup(spark, out) == _rollup(spark, cache)
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.count() == spark.read.parquet(f"{cache}/metrics").count()


@pytest.mark.parametrize(
    "bad",
    [{"n_docs": None}, {"n_keep": "many"}, {"n_docs": 1.5}, {"ts_min": "yesterday"}, {"ppl_sum": ...}],
    ids=["null_count", "string_count", "fractional_count", "bad_timestamp", "missing_key"],
)
def test_malformed_cached_metrics_make_the_chunk_computed(spark, pages_sdf, tmp_path, bad):
    """A cached manifest whose metrics records do not parse into the
    metrics schema is not fetchable: its chunk is computed instead, the
    other chunk is still fetched, and the out_dir's metrics equal the
    cache's."""
    import json

    cache = str(tmp_path / "cache")
    cfg = _cfg()
    run_qa(spark, pages_sdf, cfg, cache)
    mpath = f"{cache}/_manifest/chunk_1.json"
    with open(mpath) as f:
        man = json.load(f)
    rec = man["metrics"][0]
    for k, v in bad.items():
        if v is ...:
            del rec[k]
        else:
            rec[k] = v
    with open(mpath, "w") as f:
        json.dump(man, f)

    out = str(tmp_path / "out")
    got = run_qa(spark, pages_sdf, cfg, out, cache_base=cache)
    assert got["chunks_fetched"] == [0] and got["chunks_run"] == [1]
    assert _rollup(spark, out) == _rollup(spark, cache)


def test_refused_fetch_logs_its_reason(spark, pages_sdf, tmp_path, caplog):
    """A chunk the cache cannot supply logs one line saying why, so a
    recomputed chunk is never silent: a WARNING naming the reason for a
    refused manifest or data file, an INFO line for a chunk the cache does
    not hold."""
    import json
    import logging

    from isimip_qa_spark.plans.checkpoint import fetch_chunk

    cache = str(tmp_path / "cache")
    cfg = _cfg()
    run_qa(spark, pages_sdf, cfg, cache)
    mpath = f"{cache}/_manifest/chunk_0.json"
    with open(mpath) as f:
        raw = f.read()

    def fetch_logs(chunk=0, text=raw, config_hash=cfg.config_hash()):
        with open(mpath, "w") as f:
            f.write(text)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="isimip_qa_spark.plans.checkpoint"):
            man = fetch_chunk(str(tmp_path / "out"), chunk, cache, config_hash)
        return man, [(r.levelname, r.getMessage()) for r in caplog.records]

    def edited(edit):
        man = json.loads(raw)
        edit(man)
        return json.dumps(man)

    man, logs = fetch_logs()
    assert man is not None and logs == []

    refusals = {
        "config hash mismatch": fetch_logs(config_hash="other"),
        "unsafe file name '../evil.parquet'": fetch_logs(
            text=edited(lambda m: m.update(files=["../evil.parquet"]))
        ),
        "unparseable metrics": fetch_logs(
            text=edited(lambda m: m["metrics"][0].update(n_docs=None))
        ),
        "read error on part-missing.parquet": fetch_logs(
            text=edited(lambda m: m["files"].append("part-missing.parquet"))
        ),
        "unreadable manifest": fetch_logs(text="{not json"),
    }
    for reason, (man, logs) in refusals.items():
        assert man is None, reason
        ((level, msg),) = logs
        assert level == "WARNING" and reason in msg and "chunk 0" in msg, msg

    man, logs = fetch_logs(chunk=7)
    assert man is None
    ((level, msg),) = logs
    assert level == "INFO" and "chunk 7: no manifest" in msg, msg
