"""The fused QA DAG: scope filters → all stages in one pass → write-audit
sink + per-partition metrics/lineage, as ONE Spark job over the chunks
still to compute — of one run (run_qa) or of every combo of a grid
(run_targets) — with chunk manifests as the resume unit
(plans/checkpoint.py).

Physical shape (the properties that carry to 1000 executors / 100 TB):
- ONE scan feeds all stages (reference's shared scan, main.py:130-136):
  stages only add columns, so the whole DAG is a single narrow pipeline —
  scan → filter → mapInArrow(sink) → write, no shuffle. Each sink task
  scores one scan split in place: keep is per document and metrics are per
  (chunk, partition), so nothing needs a host key, and url-hash-bucketed
  input already has balanced splits. A retried task rereads the same
  files in the same order, so it rewrites the same bytes.
- The sink takes Spark's Arrow batches as they come (mapInArrow): the
  kernel reads the `text` array's buffers in place and the scored rows
  reach the parquet writer without a pandas round trip (plans/sink.py).
- Scope filters (warc_ts window = Period, lang cohort = Region) are applied
  before anything else → parquet/Iceberg pushdown + partition pruning. In
  a shared job the filter is the OR of the targets' scopes, and the same
  predicates route each row to the targets it is written to.
- `html` is dropped before the sink (column pruning discipline; the scan
  never materialises it for text-only runs).
- Metrics are computed per Spark partition by the sink task inside the
  same pass (plans/sink.py) and collected as Arrow; the driver keeps them
  in each chunk's manifest — the analogue of the reference's extraction
  artifacts (mixins/extractions.py:42-62).
- Every chunk, fetched from a cache or computed, is published by one
  function (_publish). The chunk manifests are the only source of truth:
  `metrics/` and `lineage/` are one parquet file each, rebuilt from all
  published manifests plus the new ones, and the manifests are written
  last, so they are the publish step.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import operator
import os
import shutil
import time
from dataclasses import replace

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import (
    chunk_files,
    chunk_path,
    completed_chunks,
    fetch_chunk,
    manifest_dir,
    mark_chunk_done,
    metrics_table,
    read_manifest,
)
from .config import QAConfig
from .sink import qa_sink
from .skew import detect_hot_hosts  # noqa: F401  unused; perfbench/run.py wraps it
from .stages import STAGES


# lineage: what ran, over what, producing what (north_rule); one row per
# published chunk
LINEAGE_PA = pa.schema(
    [("config_hash", pa.string()), ("chunk", pa.int64()), ("stages", pa.string()),
     ("rows", pa.int64()), ("wall_s", pa.float64())]
)


def scope_pred(cfg: QAConfig) -> Column:
    """Period + Region analogues as one predicate (the filter a run's scan
    pushes down, and the routing of a row to its run in a shared job)."""
    # tolerant-time semantics (reference: unparseable → NaT → dropped,
    # mixins/extractions.py:82-84)
    pred = F.col("warc_ts").isNotNull()
    if cfg.window is not None:
        lo, hi = cfg.window
        pred &= F.col("warc_ts").between(
            F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")
        )
    if cfg.cohort_langs is not None:
        pred &= F.col("lang").isin(*cfg.cohort_langs)
    return pred


def apply_stages(df: DataFrame, cfg: QAConfig) -> DataFrame:
    """The expression-stage oracle: STAGES one after another, each stage
    physically separate. run_qa's sink must produce the same columns."""
    for stage in STAGES:
        df = stage.apply(df, cfg)
    # derived columns: `scrub_delta` is the stored form (changed docs only);
    # the full scrubbed column is a JVM-side coalesce, never shipped or
    # persisted twice
    return df.withColumns(
        {
            "scrubbed": F.col("scrub_delta").isNotNull(),
            "text_scrubbed": F.coalesce(F.col("scrub_delta"), F.col("text")),
        }
    )


def run_qa(
    spark: SparkSession,
    pages: DataFrame,
    cfg: QAConfig,
    out_dir: str,
    resume: bool = True,
    cache_base: str | None = None,
) -> dict:
    """Run the full QA DAG with chunk-wise checkpointing: chunks already
    committed (or fetched from `cache_base`) are skipped, and every chunk
    still missing is computed by ONE sink job, whose per-chunk manifests
    are published after it commits. The one-target case of run_targets.

    Returns a summary dict: chunks run/skipped/fetched, rows, wall seconds.
    The scored corpus lands in out_dir/data/chunk=K/; per-partition metrics
    in out_dir/metrics/; lineage rows in out_dir/lineage/.

    `cache_base`: optional shared artifact cache (path or http(s)/file URL
    mirroring an out_dir layout) — completed chunks with a matching config
    hash are fetched instead of computed (the reference's remote-fetch skip,
    mixins/extractions.py:16-28).
    """
    return run_targets(spark, pages, [(cfg, out_dir, cache_base)], resume)[0]


def run_targets(
    spark: SparkSession,
    pages: DataFrame,
    targets: list[tuple[QAConfig, str, str | None]],
    resume: bool = True,
) -> list[dict]:
    """run_qa over several (cfg, out_dir, cache_base) targets whose configs
    differ only in `window` and `cohort_langs` (a grid's combos), with ONE
    sink job for all of them. Per target, on the driver: the resume check,
    the cache fetch, and the publish of the fetched chunks. Then one job
    scores each row of the union of the targets' missing chunks once and
    writes it to every target it belongs to. Then, per target, the driver
    publishes the computed chunks. A driver killed before a chunk's publish
    fetches or recomputes that (target, chunk) on the next run. Returns one
    run_qa summary per target; a computed target's `wall_s` is its own
    driver time plus its row share of the job."""
    if len({replace(c, window=None, cohort_langs=None) for c, _, _ in targets}) > 1:
        raise ValueError("targets of one job may differ only in window and cohort_langs")
    summaries = []
    for cfg, out_dir, cache_base in targets:
        t0 = time.time()
        done = completed_chunks(out_dir) if resume else set()
        fetched: dict[int, dict] = {}
        fetch_walls: dict[int, float] = {}
        if resume and cache_base:
            for c in range(cfg.n_chunks):
                t_fetch = time.time()
                man = None if c in done else fetch_chunk(
                    out_dir, c, cache_base, cfg.config_hash()
                )
                if man is not None:
                    fetched[c], fetch_walls[c] = man, time.time() - t_fetch
        if fetched:
            _publish(out_dir, fetched, fetch_walls)
        summaries.append(
            {
                # a fully-resumed run computes nothing — the reference's
                # exists()-skip, main.py:126-128
                "chunks_run": [
                    c for c in range(cfg.n_chunks)
                    if c not in done and c not in fetched
                ],
                "chunks_skipped": sorted(done),
                "chunks_fetched": sorted(fetched),
                "rows": 0,
                "wall_s": time.time() - t0,
                "config_hash": cfg.config_hash(),
            }
        )

    work = [(t, s) for t, s in zip(targets, summaries) if s["chunks_run"]]
    if work:
        t_job = time.time()
        metrics = _run_single_pass(
            pages, [(cfg, out_dir, s["chunks_run"]) for (cfg, out_dir, _), s in work]
        )
        job_s = time.time() - t_job
        rows = [pc.sum(m["n_docs"]).as_py() or 0 for m in metrics]
        stages = [stage.name for stage in STAGES]
        for ((cfg, out_dir, _), s), m, n in zip(work, metrics, rows):
            t0 = time.time()
            s["rows"] = n
            share = job_s * (n / sum(rows) if sum(rows) else 1 / len(work))
            m = m.append_column(
                "config_hash", pa.array([s["config_hash"]] * m.num_rows, pa.string())
            )
            mans = {}
            for c in s["chunks_run"]:
                recs = m.filter(pc.equal(m["chunk"], c)).to_pylist()
                mans[c] = {
                    "rows": sum(r["n_docs"] for r in recs),
                    "config_hash": s["config_hash"],
                    "stages": stages,
                    "files": chunk_files(out_dir, c),
                    "metrics": recs,
                }
            _publish(out_dir, mans, dict.fromkeys(mans, share))
            s["wall_s"] += share + time.time() - t0
    for s in summaries:
        s["wall_s"] = round(s["wall_s"], 3)
    return summaries


def _run_single_pass(
    pages: DataFrame,
    work: list[tuple[QAConfig, str, list[int]]],
) -> list[pa.Table]:
    """ONE fused job computes every chunk in each (cfg, out_dir, todo) of
    `work`: the scan, filtered by the OR over targets of scope_pred(cfg) ∧
    bucket ∈ todo, goes straight into the write-audit mapInArrow sink
    (plans/sink.py) with a `targets` column listing the targets each row
    belongs to. The sink scores each row once, writes it to every target's
    per-chunk parquet, and returns per-(target, chunk, partition) metrics
    rows — no shuffle, no second job, no read-back. Returns each target's
    metrics table."""
    cfg = work[0][0]
    if "bucket" not in pages.columns:
        pages = pages.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(cfg.n_chunks))
        )
    # else: input is pre-bucketed on pmod(xxhash64(url), n_chunks) — a
    # resume's bucket filter hits the partition column and prunes the scan
    # (Iceberg bucket-partition analogue). Contract: layout bucket count ==
    # n_chunks.
    preds = [
        scope_pred(c) if len(todo) == c.n_chunks
        else scope_pred(c) & F.col("bucket").isin(*todo)
        for c, _, todo in work
    ]
    df = pages.filter(functools.reduce(operator.or_, preds))
    if cfg.extract_from_html:
        # raw-capture entry: derive text from html in the map stage (pure
        # JVM regexp exprs — functions/extract.py); html bytes never reach
        # a shuffle or Python
        from ..functions.extract import extract_text_expr

        df = df.withColumn("text", extract_text_expr(F.col("html")))
    # column-pruning discipline: text stages must never scan html bytes
    df = df.drop("html")
    df = df.withColumn(
        "targets",
        F.array_compact(F.array(*[F.when(p, F.lit(i)) for i, p in enumerate(preds)])),
    )
    # overwrite semantics: clear what a crashed prior run left in the chunks
    # about to be computed (unpublished part files, abandoned tmps); chunks
    # outside `todo` are never touched. A resume=False rerun unpublishes a
    # chunk before clearing it, so no manifest outlives its files if this
    # job dies.
    for _, out_dir, todo in work:
        for c in todo:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(manifest_dir(out_dir), f"chunk_{c}.json"))
            shutil.rmtree(chunk_path(out_dir, c), ignore_errors=True)
    metrics = qa_sink(
        df.withColumnRenamed("bucket", "chunk"), [d for _, d, _ in work], cfg
    ).toArrow()
    return [
        metrics.filter(pc.equal(metrics["target"], i)).drop_columns("target")
        for i in range(len(work))
    ]


def _replace_table(table: pa.Table, path: str) -> None:
    """Make `table` the one data file of the table directory `path`: tmp,
    then an atomic rename, then remove every other file there (what an
    earlier layout appended, one file per publish)."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, ".part-0.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, "part-0.parquet"))
    for name in os.listdir(path):
        if name != "part-0.parquet":
            os.remove(os.path.join(path, name))


def _publish(out_dir: str, mans: dict[int, dict], walls: dict[int, float]) -> None:
    """Publish chunks of one target, fetched or computed alike: stamp each
    manifest `mans[c]` with its `wall_s`, rebuild the metrics and lineage
    tables from the already-published manifests with `mans` in place of
    their chunks, then write the manifests. The manifest is written last,
    so it is the publish step: a driver killed before it leaves the chunk
    unpublished, its rows are dropped by the next rebuild, and the next run
    fetches or computes it again."""
    # the manifests' JSON form (timestamps as str), so the first write and
    # any later rebuild from disk build the same tables
    mans = {
        c: json.loads(json.dumps(dict(man, wall_s=round(walls[c], 3)), default=str))
        for c, man in mans.items()
    }
    published = dict(sorted({**read_manifest(out_dir), **mans}.items()))
    _replace_table(
        metrics_table([r for man in published.values() for r in man["metrics"]]),
        f"{out_dir}/metrics",
    )
    lineage = [
        {
            "config_hash": man["config_hash"],
            "chunk": c,
            "stages": ",".join(man.get("stages", [])),
            "rows": man.get("rows", 0),
            "wall_s": man.get("wall_s"),
        }
        for c, man in published.items()
    ]
    _replace_table(pa.Table.from_pylist(lineage, LINEAGE_PA), f"{out_dir}/lineage")
    for c, man in mans.items():
        mark_chunk_done(out_dir, c, man)


def read_scored(spark: SparkSession, out_dir: str) -> DataFrame:
    """Scored corpus with the full scrubbed column reconstructed from the
    stored delta (byte-identical: unchanged docs coalesce to `text`).

    `out_dir` may be a glob over several out_dirs (a stream's
    `<out>/batch=*`): each one with data is read on its own and the rows
    are unioned, because Spark's partition discovery rejects several roots
    that each hold chunk=K directories."""
    dirs = [d for d in sorted(glob.glob(out_dir)) if os.path.isdir(f"{d}/data")]
    df = functools.reduce(
        DataFrame.unionByName, [spark.read.parquet(f"{d}/data") for d in dirs or [out_dir]]
    )
    if "text_scrubbed" not in df.columns and "scrub_delta" in df.columns:
        df = df.withColumn(
            "text_scrubbed", F.coalesce(F.col("scrub_delta"), F.col("text"))
        )
    return df
